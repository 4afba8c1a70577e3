package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split / regexp / higher-order array functions) — no Scala UDFs — so the
  * whole pipeline stays inside WholeStageCodegen and scales linearly with
  * input splits: no shuffles, pure map-side column work.
  */
object TextAnalysis {

  /** Whitespace tokenization; empty string → empty array. Runs as the
    * compiled [[graft.functions.WordShingles]] kernel with n=1 (identical
    * semantics to `filter(split(trim(text), "\\s+"), _.length > 0)`, but
    * without the interpreted filter lambda per token).
    */
  def tokens(text: Column): Column =
    graft.functions.WordShingles(text, 1)

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** `(id, term, tf)`: one row per distinct token of each document with
    * its bigint count, counted map-side by the
    * [[graft.functions.TermCounts]] kernel — no (id, term) shuffle. Each
    * row of `docs` is one document (ids unique); a null or token-free text
    * yields no rows, as exploding its tokens would.
    */
  def termFrequencies(docs: DataFrame, idCol: String,
                      text: Column): DataFrame =
    docs.select(col(idCol), inline(graft.functions.TermCounts(tokens(text))))

  /** A BPE-ish subword proxy count: each word contributes ceil(len/4)
    * subword pieces, approximating byte-pair token inflation without a
    * vocab. Pure expression, stays in codegen.
    */
  def bpeishTokenCount(text: Column): Column =
    bpeishTokenCountOf(tokens(text))

  /** [[bpeishTokenCount]] over a pre-materialized token array. */
  def bpeishTokenCountOf(tk: Column): Column =
    aggregate(tk, lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("long"))

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "on", "for")

  /** Stopword ratio over whitespace tokens, null-safe for empty docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    stopwordRatioOf(tokens(text), stopwords)

  /** [[stopwordRatio]] over a pre-materialized token array. Prefer this (and
    * the other `*Of` variants) whenever more than one derived column is
    * built over the same text: each `tokens(text)` call is a separate
    * [[graft.functions.WordShingles]] kernel invocation, and Catalyst's
    * subexpression elimination does NOT reliably fuse kernel calls across
    * the columns of one projection — a 4-column quality stack re-tokenizes
    * every row 4x. Materializing the array once in its own projection
    * (`df.select(..., tokens($"text").as("tk"))`) makes it a plain
    * attribute here; CollapseProject keeps the split because the alias is
    * non-cheap and multiply-referenced. Measured 2-3x on the quality/langid
    * family at sf0.1 (round-4 bench regression, round-5 fix).
    */
  def stopwordRatioOf(tk: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val stops = size(filter(tk, t => lower(t).isInCollection(stopwords)))
    when(size(tk) === 0, lit(0.0)).otherwise(stops.cast("double") / size(tk))
  }

  /** Punctuation character ratio. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("double") / length(text))

  /** Mean token length, null-safe. */
  def meanTokenLength(text: Column): Column =
    meanTokenLengthOf(tokens(text))

  /** [[meanTokenLength]] over a pre-materialized token array. */
  def meanTokenLengthOf(tk: Column): Column =
    when(size(tk) === 0, lit(0.0)).otherwise(
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(tk))

  /** Canonical-form document fingerprint: md5 of whitespace-collapsed,
    * lower-cased text. Identical logical content → identical fingerprint;
    * the standard first-pass exact-dedup key at 100 TB (hash is computed
    * map-side; the dedup groupBy shuffles only the 32-char digest + id).
    * Canonicalization runs as the one-pass
    * [[graft.functions.CanonicalizeText]] kernel rather than a regex.
    */
  def fingerprint(text: Column): Column =
    md5(graft.functions.CanonicalizeText(text))

  /** Marker-token language scores. Returns one count column per language of
    * how many tokens hit that language's marker list. Argmax of the scores
    * is the predicted language — an n-gram-free heuristic langid that is
    * fully codegen'd (no UDF) and expressible in ANSI SQL for oracles.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "fr" -> Seq("le", "la", "et", "les", "de"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "y", "es"))

  def langScores(text: Column): Seq[(String, Column)] =
    langScoresOf(tokens(text))

  /** [[langScores]] over a pre-materialized token array (see
    * [[stopwordRatioOf]] for why consumers should project the array once).
    */
  def langScoresOf(tk: Column): Seq[(String, Column)] =
    langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(tk, t => lower(t).isInCollection(markers)))
    }

  /** Within-document repetition ratio: 1 − distinct n-grams / total
    * n-grams (0 = no repetition). The standard boilerplate/spam signal a
    * training pipeline filters on — a highly repetitive doc (navigation
    * chrome, keyword stuffing) scores near 1. Pure map-side expression over
    * the codegen'd shingle kernel; docs with fewer than `n` tokens score 0.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val grams = graft.functions.WordShingles(text, n)
    when(size(grams) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams))
  }

  /** PII scrubbing: mask emails, URLs, and long digit runs (phone/account
    * numbers) with typed placeholder tokens — the redaction pass a corpus
    * takes before training. Chained `regexp_replace` stays in codegen;
    * order matters (emails before generic digit runs so `a1@b.com` doesn't
    * half-mask).
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"
  val digitRunPattern = "[0-9][0-9 ()+.-]{6,}[0-9]"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        urlPattern, "<URL>"),
      digitRunPattern, "<NUMBER>")

  /** Count of PII hits per category (observability for the scrub pass).
    * `regexp_count` scans without materializing the match array that
    * `size(regexp_extract_all(...))` would allocate per row.
    */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(emailPattern)),
    "n_urls" -> regexp_count(text, lit(urlPattern)),
    "n_numbers" -> regexp_count(text, lit(digitRunPattern)))

  /** Full quality-score projection over a text column. Tokenizes per
    * column — when stacking several token-derived columns, prefer
    * projecting a [[tokenStats]] struct once and deriving with
    * [[qualityColumnsFromStats]] (one kernel call per row).
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = Seq(
    "n_tokens" -> tokenCount(text),
    "mean_token_len" -> round(meanTokenLength(text), 4),
    "stopword_ratio" -> round(stopwordRatio(text), 4),
    "punct_ratio" -> round(punctRatio(text), 4))

  /** One-pass fused token statistics struct — the compiled
    * [[graft.functions.TokenStats]] kernel: (n_tokens, sum_len, n_subwords,
    * stop_hits, marker_hits) in a single walk over the text, no token
    * array, no interpreted higher-order-function lambdas. The fastest
    * spelling when a query stacks several token-derived columns; project
    * it once as its own column and derive with [[qualityColumnsFromStats]]
    * / [[langScoresFromStats]]. Marker sets ride in language-code order
    * (sorted), aligning `marker_hits` with [[langScoresFromStats]].
    */
  /** Marker word-sets in sorted language-code order — the ONE alignment
    * contract between `marker_hits` indices and [[langScoresFromStats]].
    * Every TokenStats construction site (Column API, SQL registration,
    * extension injection) must use this val, not its own sort.
    */
  val sortedMarkerSets: Seq[Seq[String]] =
    langMarkers.toSeq.sortBy(_._1).map(_._2)

  def tokenStats(text: Column,
                 stopwords: Seq[String] = defaultStopwords): Column =
    graft.functions.TokenStats(text, stopwords, sortedMarkerSets)

  /** [[qualityColumns]] derived from a [[tokenStats]] struct column —
    * identical values and types to the array spelling (int/long counts,
    * the same double divisions), one kernel call per row.
    */
  def qualityColumnsFromStats(text: Column, ts: Column): Seq[(String, Column)] = {
    val n = ts.getField("n_tokens")
    Seq(
      "n_tokens" -> n,
      "mean_token_len" -> round(when(n === 0, lit(0.0))
        .otherwise(ts.getField("sum_len").cast("double") / n), 4),
      "stopword_ratio" -> round(when(n === 0, lit(0.0))
        .otherwise(ts.getField("stop_hits").cast("double") / n), 4),
      "punct_ratio" -> round(punctRatio(text), 4))
  }

  /** [[langScores]] derived from a [[tokenStats]] struct column. */
  def langScoresFromStats(ts: Column): Seq[(String, Column)] =
    langMarkers.keys.toSeq.sorted.zipWithIndex.map { case (lang, i) =>
      lang -> ts.getField("marker_hits").getItem(i)
    }

  /** Apply quality columns to a DataFrame, keeping `keep` columns. The
    * fused [[tokenStats]] struct is materialized in its own projection and
    * shared by the three token-derived columns — one compiled kernel run
    * per row, zero lambda dispatch.
    */
  def quality(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame = {
    val base = df.select(
      (keep :+ textCol).map(col) :+ tokenStats(col(textCol)).as("__ts"): _*)
    qualityColumnsFromStats(col(textCol), col("__ts")).foldLeft(base) {
      case (d, (name, c)) => d.withColumn(name, c)
    }.drop(textCol, "__ts")
  }

  // ---------------------------------------------------------------------
  // HTML → text extraction (web-corpus cleaning)
  // ---------------------------------------------------------------------

  /** RE2-compatible HTML grammar, shared VERBATIM with the SQL oracle twin
    * (d_html_extract): no lazy quantifiers, no lookahead — RE2 (DuckDB,
    * Go, Trino) has neither, and Java regex agrees with RE2 on everything
    * used here. The cost of that portability: a script/style BODY is
    * matched as a `[^<]*` run, so a body containing a literal `<` keeps
    * its tail until the generic tag strip (the full HTML5 tokenizer is
    * out of scope for corpus cleaning — this is the regex-fallback tier
    * of the usual extraction stacks).
    */
  val scriptBlockPattern = "(?i)<script[^>]*>[^<]*</script>"
  val styleBlockPattern = "(?i)<style[^>]*>[^<]*</style>"
  val htmlCommentPattern = "<!--([^-]|-[^-]|--[^>])*-->"
  val htmlTagPattern = "<[^>]+>"

  def htmlTagCount(html: Column): Column = regexp_count(html, lit(htmlTagPattern))

  /** Visible text of an HTML fragment: script/style bodies, comments, and
    * tags drop (each leaves one space so adjacent text nodes don't fuse),
    * the six common entities decode (`&amp;` LAST so `&amp;lt;` yields
    * `&lt;` not `<`), whitespace runs collapse. Pure codegen'd string
    * kernels — extraction over 100 TB of crawl HTML is a scan.
    */
  def htmlText(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(html, scriptBlockPattern, " "), styleBlockPattern, " ")
    val noTags = regexp_replace(
      regexp_replace(noBlocks, htmlCommentPattern, " "), htmlTagPattern, " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Extraction projection: `(idCol, text, n_tags, markup_ratio)` where
    * markup_ratio is the fraction of the raw payload that was markup.
    * Two-step select on purpose: `text` feeds two outputs, and the
    * extraction chain is expensive — a separate projection keeps
    * CollapseProject from inlining (= re-evaluating) it per consumer.
    */
  def extractHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    df.select(col(idCol), length(col(htmlCol)).cast("double").as("__hlen"),
        htmlTagCount(col(htmlCol)).as("n_tags"),
        htmlText(col(htmlCol)).as("text"))
      .select(col(idCol), col("text"), col("n_tags"),
        round((col("__hlen") - length(col("text"))) / col("__hlen"), 4)
          .as("markup_ratio"))

  /** Fixed-size token chunking with overlap — the context-window prep step
    * of a pretraining / retrieval pipeline: doc → chunks of `chunkTokens`
    * whitespace tokens starting every `stride` tokens (overlap =
    * chunkTokens - stride), final partial chunk kept. Emits
    * `(idCol, chunk_id, n_tokens, chunk_text)`.
    *
    * Engine-portable (split + slice + join — reproducible in any SQL
    * engine) and pure map-side: the token array is materialized in its own
    * projection (see [[Dedup.portableShingleWindows]] for why), the chunk
    * structs are built per doc inside one `transform`, and the explode
    * multiplies rows WITHOUT a shuffle — at 100 TB this is a scan.
    *
    * Tokenization is CASE-PRESERVING (whitespace split only): chunk_text
    * is training text, and a chunking operator must not case-fold it the
    * way the dedup-oriented [[Dedup.portableTokens]] does. Inter-token
    * whitespace runs still collapse to single spaces on re-join.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            chunkTokens: Int = 20, stride: Int = 15): DataFrame = {
    require(chunkTokens > 0 && stride > 0 && stride <= chunkTokens,
      s"need 0 < stride=$stride <= chunkTokens=$chunkTokens")
    val n = size(col("tk"))
    // starts 1, 1+stride, ... up to the FIRST start whose chunk reaches
    // the doc's end — ceil((n-chunk)/stride)+1 chunks, so a short tail
    // fully contained in the previous chunk is never emitted
    val lastStart = greatest(n - chunkTokens + stride, lit(1))
    val chunks = transform(sequence(lit(1), lastStart, lit(stride)), s =>
      struct(
        floor((s - 1) / lit(stride)).cast("bigint").as("chunk_id"),
        least(lit(chunkTokens), n - s + 1).cast("bigint").as("n_tokens"),
        concat_ws(" ", slice(col("tk"), s, lit(chunkTokens))).as("chunk_text")))
    df.select(col(idCol),
        filter(split(trim(col(textCol)), "\\s+"), x => length(x) > 0).as("tk"))
      // empty docs yield no chunks (sequence(1, 0, step) would error)
      .filter(n > 0)
      .select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.n_tokens"), col("c.chunk_text"))
  }

  /** Bigram language-model familiarity — the integer-arithmetic core of
    * KenLM-style quality filtering: score each document by how much of it
    * is made of the corpus's most common word bigrams. Fluent prose reuses
    * frequent collocations; gibberish, lists, and boilerplate-free noise
    * do not. Per doc: `n_bigrams` (total occurrences), `hits` (occurrences
    * that are in the top-`vocabSize` bigram vocabulary), `familiar_mass`
    * (sum of the corpus counts of those hits — the unnormalized LM score).
    * All three are exact BIGINTs — no log-probs, so the scores hash
    * identically on any engine; consumers ratio hits/n_bigrams or take
    * log(familiar_mass) downstream where bit-stability no longer matters.
    *
    * Scale shape: the bigram stream is map-side — one tokenizer-kernel
    * pass into a materialized `tk` column (the lambda below only reads
    * the column, so nothing re-evaluates per element), exploded twice
    * (count pass + score pass — recomputing beats materializing the gram
    * explosion, same trade as [[Dedup.boilerplate]]). Docs with fewer
    * than 2 tokens have no bigrams and are absent (the [[Dedup.shingles]]
    * kernel's short-doc whole-text shingle is a dedup semantic, not an LM
    * one). The vocabulary is a top-K — TakeOrdered, K
    * rows to the driver — that BROADCASTS back, so the score pass is scan
    * → broadcast-join → per-doc partial agg; the only wide op over corpus
    * data is the bigram-count groupBy, which partial-aggregates map-side.
    * In production the vocab would be trained once (or on a prior
    * corpus) and reused; pass `vocab` to skip the count pass.
    */
  /** Exploded `(idCol, bigram)` stream: one tokenizer-kernel pass into a
    * materialized column, then adjacent-pair join inside the projection
    * (the lambda only reads the column — nothing re-evaluates per
    * element). Docs with < 2 tokens emit nothing.
    */
  private def bigramStream(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("tk")) - 1), i =>
          concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1)))).as("bigram"))

  /** Train the top-`vocabSize` bigram vocabulary `(bigram, c)` on a
    * reference corpus — persist it and feed [[lmFamiliarity]]'s `vocab`
    * to score later batches without re-counting (the frozen-LM pattern).
    */
  def bigramVocab(docs: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int = 1000): DataFrame =
    bigramStream(docs, idCol, textCol)
      .groupBy(col("bigram")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("bigram")).limit(vocabSize)

  def lmFamiliarity(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int = 1000,
                    vocab: Option[DataFrame] = None): DataFrame = {
    val v = vocab.getOrElse(bigramVocab(docs, idCol, textCol, vocabSize))
    bigramStream(docs, idCol, textCol)
      .join(broadcast(v), Seq("bigram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("c")).as("hits"),
        coalesce(sum(col("c")), lit(0L)).cast("bigint").as("familiar_mass"))
  }

  /** Gopher-style quality rule bundle (Rae et al. 2021, the MassiveText
    * filters) in EXACT integer arithmetic: word-count bounds, mean-word-
    * length bounds (×100 fixed point), stop-word minimum, and the
    * top-bigram repetition share (the "fraction in most common 2-gram"
    * rule, ×1000 fixed point against `maxTopBigramX1000`). Emits the rule
    * inputs plus the composed `keep` verdict, so a pipeline can either
    * filter on `keep` or re-threshold downstream without recomputing.
    *
    * Scale shape: the scalar rules ride ONE fused [[tokenStats]] kernel
    * pass (no re-tokenization); the bigram share is the only shuffle — a
    * per-(doc, bigram) partial-agg'd groupBy collapsed to each doc's
    * top-1 count. Line-based Gopher rules (bullet/ellipsis lines) are
    * omitted: they need a line-structured corpus and would be degenerate
    * on single-line documents.
    */
  /** Line-structured Gopher rules — the MassiveText bullet-line /
    * ellipsis-line / duplicate-line filters [[gopherRules]] documents as
    * omitted (they need a corpus with real newlines): per document, how
    * many lines start with a bullet marker ("- " / "* "), end in an
    * ellipsis, or duplicate another line of the SAME document, plus the
    * composed keep verdict at the published thresholds (90% bullet, 30%
    * ellipsis; 30% duplicate-line, the repetition-family bound).
    *
    * Scale shape: ENTIRELY map-side — the lines live in a per-row array
    * and every statistic is a higher-order filter/distinct over it; no
    * explode, no shuffle, no line-frequency table (in-doc duplication
    * only — CROSS-doc line dedup is [[Dedup.lineDedupStats]]). Exact
    * integer fixed-point (×100) comparisons, so verdicts hash
    * identically in any engine.
    */
  def gopherLineRules(df: DataFrame, idCol: String, textCol: String,
                      maxBulletX100: Long = 90, maxEllipsisX100: Long = 30,
                      maxDupLineX100: Long = 30): DataFrame =
    df.select(col(idCol), split(col(textCol), "\n").as("__ls"))
      .select(col(idCol),
        size(col("__ls")).cast("long").as("n_lines"),
        size(filter(col("__ls"),
          l => l.startsWith("- ") || l.startsWith("* "))).cast("long").as("n_bullet"),
        size(filter(col("__ls"), l => l.endsWith("..."))).cast("long").as("n_ellipsis"),
        (size(col("__ls")) - size(array_distinct(col("__ls"))))
          .cast("long").as("n_dup"))
      .withColumn("keep",
        col("n_bullet") * 100 <= lit(maxBulletX100) * col("n_lines") &&
          col("n_ellipsis") * 100 <= lit(maxEllipsisX100) * col("n_lines") &&
          col("n_dup") * 100 <= lit(maxDupLineX100) * col("n_lines"))

  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minTokens: Long = 50, maxTokens: Long = 100000,
                  minMwlX100: Long = 300, maxMwlX100: Long = 1000,
                  minStopHits: Long = 2,
                  maxTopBigramX1000: Long = 180): DataFrame = {
    val base = df
      .select(col(idCol), tokenStats(col(textCol)).as("ts"))
      .select(col(idCol),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        col("ts.sum_len").as("sum_len"),
        col("ts.stop_hits").cast("long").as("stop_hits"))
    // duplicate-preserving bigram windows (the shingle kernel is
    // positional), collapsed to each doc's most frequent bigram count
    val top = df
      .select(col(idCol), explode(Dedup.shingles(col(textCol), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(max(col("c")).as("top_bigram_n"))
    val mwl = when(col("n_tokens") === 0, lit(0L))
      .otherwise(expr("sum_len * 100 div n_tokens"))
    val tb = coalesce(col("top_bigram_n"), lit(0L))
    base.join(top, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), mwl.as("mwl_x100"),
        col("stop_hits"), tb.as("top_bigram_n"),
        (col("n_tokens").between(minTokens, maxTokens) &&
          mwl.between(minMwlX100, maxMwlX100) &&
          col("stop_hits") >= minStopHits &&
          tb * 1000 <= lit(maxTopBigramX1000) *
            greatest(col("n_tokens") - 1, lit(1L))).as("keep"))
  }

  /** C4-style URL blocklist filter: drop every document that mentions a
    * URL whose host is on the blocklist (the public web-corpus recipe —
    * C4 filtered pages against a curated bad-domain list before any
    * content heuristic ran). Hosts are extracted map-side with one
    * regexp_extract_all; flagged ids come from ONE semi-join of the
    * exploded (id, domain) stream against the blocklist — broadcast,
    * since even a production blocklist is millions of rows against a
    * 100 TB corpus — and one anti-join keeps survivors. The corpus text
    * never shuffles. Returns (idCol, n_urls) for surviving docs.
    */
  /** Alphabet for [[charEntropyMilli]]: lowercase ASCII letters + space;
    * everything else folds into one OTHER bucket.
    */
  val entropyAlphabet: Seq[String] = ('a' to 'z').map(_.toString) :+ " "

  /** Shannon character entropy as an EXACT fixed-point integer — the
    * gibberish/low-diversity quality signal (near-zero entropy = repeated
    * filler or binary spam; web pipelines gate on it next to the
    * compression-ratio check). Uses the identity
    *
    *   L·H = L·ln L − Σ_c n_c·ln n_c       (nats, scaled by L)
    *
    * with each n·ln n term rounded ONCE to `round(1e6·n·ln n)` as BIGINT
    * and summed as integers (the [[Classify]] fixed-point contract:
    * floats never cross an aggregation boundary, so the result is
    * bit-exact and order-independent — oracle-checkable in any SQL
    * engine). Character counts come from the replace-length trick over a
    * 27-symbol alphabet (letters + space, rest pooled as OTHER): pure
    * codegen'd string expressions, one map-side pass, no explode and no
    * shuffle — a per-character explode would shuffle the whole corpus
    * character stream.
    */
  /** The 27-bucket histogram behind [[charEntropyMilli]]: per alphabet
    * char, occurrences via the replace-length trick — pure codegen'd
    * string expressions, no explode. Materialize this ONCE as its own
    * aliased column and feed the attribute to [[charEntropyMilliOf]]:
    * the histogram is 27 full passes over the text, and every extra
    * expression-level reference duplicates all of them (the
    * [[stopwordRatioOf]] lesson — Catalyst does not reliably CSE across
    * lambda-bearing expressions).
    */
  def charHistogram(text: Column): Column = {
    val L = length(text)
    array(entropyAlphabet.map(ch =>
      (L - length(replace(text, lit(ch), lit("")))).cast("long")): _*)
  }

  /** [[charEntropyMilli]] over a pre-materialized histogram attribute —
    * `counts` is referenced three times (term sum, known mass, OTHER
    * term), which is free on an attribute and 3× the histogram cost on
    * the raw expression.
    */
  def charEntropyMilliOf(counts: Column, nChars: Column): Column = {
    val L = nChars
    val nLnN = (n: Column) => when(n > 0,
      round(lit(1e6) * n.cast("double") * log(n.cast("double"))).cast("bigint"))
      .otherwise(0L)
    val other = L.cast("long") - aggregate(counts, lit(0L), _ + _)
    when(L === 0, 0L).otherwise(
      round(lit(1e6) * L.cast("double") * log(L.cast("double"))).cast("bigint") -
        aggregate(counts, lit(0L), (acc, n) => acc + nLnN(n)) - nLnN(other))
  }

  def charEntropyMilli(text: Column): Column =
    charEntropyMilliOf(charHistogram(text), length(text))

  /** Bits-per-character view of [[charEntropyMilli]]: H/(ln 2) with the
    * ln 2 constant pinned as a literal so both engines divide by the
    * same IEEE double. Deterministic: two divisions on an exact integer.
    */
  def bitsPerChar(hMilli: Column, nChars: Column): Column =
    when(nChars === 0, 0.0).otherwise(
      round(hMilli.cast("double") / (lit(1e6) * nChars.cast("double")) /
        lit(0.6931471805599453), 4))

  /** Corpus-statistics audit: total token mass, vocabulary size, and the
    * Zipf rank-frequency slope — the "is this corpus natural language or
    * spam/boilerplate" health check (natural text slopes ≈ −1; template
    * farms and deduplication failures bend it).
    *
    * The slope is ordinary least squares of ln(freq) on ln(rank) over the
    * top `topR` terms, computed EXACTLY: x = round(1e6·ln rank) and
    * y = round(1e6·ln freq) are fixed-point BIGINTs (pointwise rounds),
    * all four OLS sums are integer sums, and the single final division is
    * one double op — order-independent and bit-reproducible in SQL, the
    * same contract as [[charEntropyMilli]]/[[Classify]]. Numerators fit:
    * R·Σxy ≤ 100·100·(20e6)² ≈ 4e18 < 2⁶³.
    *
    * Scale shape: one partially-aggregated term-count groupBy (the tf-idf
    * shuffle), a TakeOrdered top-R (never a global sort), then OLS over
    * ≤ topR rows — the only single-partition work is the 100-row window
    * and the 1-row final aggregate.
    */
  /** Chi-square independence audit over two categorical columns — the
    * corpus-composition check that a provenance dimension (source) is not
    * secretly confounded with a content dimension (language). Per-cell
    * contributions use the integer-exact identity
    *   (O·N − r·c)² / (N·r·c)
    * with the numerator and denominator formed as exact integers (all
    * < 2⁵³, so their double quotient is identical on any IEEE engine),
    * pointwise-rounded to micro units, then summed as BIGINTs. One
    * partial-agg groupBy over the corpus; everything after is
    * |A|·|B|-bounded.
    */
  def independenceAudit(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val ra = cells.groupBy(col("a")).agg(sum(col("o")).as("ra"))
    val cb = cells.groupBy(col("b")).agg(sum(col("o")).as("cb"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("a")).as("n_a"), countDistinct(col("b")).as("n_b"))
    cells.join(broadcast(ra), Seq("a")).join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("n_a"), col("n_b"),
        round(lit(1e6) *
          ((col("o") * col("n") - col("ra") * col("cb")).cast("double") *
           (col("o") * col("n") - col("ra") * col("cb")).cast("double") /
           (col("n") * col("ra") * col("cb")).cast("double")))
          .cast("bigint").as("chi_micro"))
      .groupBy(col("n"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_cells"), sum(col("chi_micro")).as("chi2_micro"))
      .select(col("n"), col("n_a"), col("n_b"), col("n_cells"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("df"),
        col("chi2_micro"))
  }

  /** Good–Turing vocabulary audit per group: token mass, vocabulary size,
    * hapax/dis legomena, the Good–Turing unseen-mass estimate N₁/N, and
    * the type–token ratio — the corpus-health numbers that flag both
    * over-deduplicated (vocab collapse) and boilerplate-flooded (hapax
    * collapse) slices. All counts are exact BIGINTs from ONE term-count
    * groupBy; the two ratios are single divisions of those integers,
    * pointwise-rounded to ppm — bit-identical on any engine.
    *
    * Scale shape: explode → (group, term) partial-agg groupBy (the tf-idf
    * shuffle) → per-group rollup of |group|·|vocab| count rows. The token
    * stream itself never shuffles; only fixed-width (group, term, count)
    * rows do.
    */
  def vocabAudit(docs: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val terms = docs.select(col(groupCol),
        explode(tokens(lower(trim(col(textCol))))).as("term"))
      .groupBy(col(groupCol), col("term")).agg(count(lit(1)).as("cnt"))
    terms.groupBy(col(groupCol))
      .agg(sum(col("cnt")).cast("bigint").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("dis"))
      .select(col(groupCol), col("n_tokens"), col("vocab"), col("hapax"),
        col("dis"),
        round(lit(1e6) * (col("hapax").cast("double") /
          col("n_tokens").cast("double"))).cast("bigint").as("gt_unseen_ppm"),
        round(lit(1e6) * (col("vocab").cast("double") /
          col("n_tokens").cast("double"))).cast("bigint").as("ttr_ppm"))
  }

  /** C4-style blocklist gate, audited per source: a document is blocked
    * if ANY of its (lowercased) tokens is on the word blocklist. The
    * membership test is a map-side array filter against the broadcast
    * literal list — the corpus text never shuffles and never joins; only
    * the per-source counters do. Emits exact integers plus the blocked
    * share in ppm.
    */
  def badwordsAudit(docs: DataFrame, srcCol: String, textCol: String,
                    blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val bad = array(blocklist.map(w => lit(w.toLowerCase)): _*)
    val perDoc = docs.select(col(srcCol),
      size(filter(tokens(lower(trim(col(textCol)))),
        t => array_contains(bad, t))).as("n_bad"))
    perDoc.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bad") > 0, 1L).otherwise(0L)).as("n_blocked"),
        sum(col("n_bad")).cast("bigint").as("n_bad_tokens"))
      .withColumn("blocked_ppm",
        round(lit(1e6) * (col("n_blocked").cast("double") /
          col("n_docs").cast("double"))).cast("bigint"))
  }

  def zipfAudit(docs: DataFrame, textCol: String, topR: Int = 100): DataFrame = {
    val toks = docs.select(
      explode(tokens(lower(trim(col(textCol))))).as("term"))
    val c = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val totals = c.agg(sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("n_vocab"))
    val top = c.orderBy(desc("cnt"), asc("term")).limit(topR)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), asc("term"))
    val fixed = top.withColumn("rank", row_number().over(w))
      .select(
        round(lit(1e6) * log(col("rank").cast("double"))).cast("bigint").as("x"),
        round(lit(1e6) * log(col("cnt").cast("double"))).cast("bigint").as("y"))
    val ols = fixed.agg(count(lit(1)).as("r"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    ols.crossJoin(totals)
      .select(col("n_tokens"), col("n_vocab"), col("r").cast("int").as("n_top"),
        round((col("r") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("r") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
          .as("zipf_slope"))
  }

  /** Per-source distribution drift vs the corpus: Jensen–Shannon
    * divergence over the global top-`topK` terms — the corpus-health
    * monitor that flags a crawl whose token mix walked away from the
    * blend (genre shift, language bleed, spam floods). Probabilities
    * are restricted to the shared top-K support, so every source
    * compares on the same axes and the per-source frame is bounded at
    * |sources|·K rows regardless of corpus size.
    *
    * Fixed-point contract: each term's JS contribution
    * ½(p·ln(p/m) + q·ln(q/m)), m = (p+q)/2, rounds ONCE to micro-nats
    * and the per-source score is an integer SUM — the char-entropy/zipf
    * kernel rule, so the whole chain replays in SQL bit-for-bit.
    *
    * Scale: one token groupBy builds the global counts (TakeOrdered
    * top-K collapses to the driver-side limit), the per-(source, term)
    * counts semi-join the broadcast top-K before aggregating, and the
    * scoring grid is sources × K.
    */
  def sourceDrift(docs: DataFrame, textCol: String, srcCol: String,
                  topK: Int = 100): DataFrame =
    sourceDriftAgainst(docs, textCol, srcCol,
      driftReference(docs, textCol, topK))

  /** The frozen reference mix: global top-`topK` (term, gcnt) counts —
    * collectible-small, the thing a monitoring deployment snapshots.
    */
  def driftReference(docs: DataFrame, textCol: String,
                     topK: Int = 100): DataFrame =
    docs.select(explode(tokens(lower(trim(col(textCol))))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("gcnt"))
      .orderBy(desc("gcnt"), asc("term")).limit(topK)

  /** [[sourceDrift]] against an EXPLICIT reference mix — the spelling a
    * streaming monitor uses per micro-batch (frozen reference, arriving
    * slice as the one "source"). Identical arithmetic by construction.
    */
  def sourceDriftAgainst(docs: DataFrame, textCol: String, srcCol: String,
                         reference: DataFrame): DataFrame = {
    val toks = docs.select(col(srcCol).as("source"),
      explode(tokens(lower(trim(col(textCol))))).as("term"))
    val g = reference
    val ng = g.agg(sum(col("gcnt")).as("ng"))
    val sc = toks.join(broadcast(g.select(col("term"))), Seq("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val ns = sc.groupBy(col("source")).agg(sum(col("cnt")).as("ns"))
    val grid = ns.crossJoin(broadcast(g))
      .join(sc, Seq("source", "term"), "left")
      .crossJoin(broadcast(ng))
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val p = col("cnt").cast("double") / col("ns")
    val q = col("gcnt").cast("double") / col("ng")
    val m = (p + q) / lit(2.0)
    val ct = round(lit(500000.0) *
      (when(col("cnt") === 0, lit(0.0)).otherwise(p * log(p / m)) +
        q * log(q / m))).cast("bigint")
    grid.select(col("source"), ct.as("c"),
        (col("cnt") > 0).cast("bigint").as("present"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("js_micro"), sum(col("present")).as("n_terms"))
      .orderBy(col("source"))
  }

  // -------------------------------------------------------------------
  // Content-defined chunking (CDC) — the block-level dedup primitive:
  // chunk boundaries come from the CONTENT (a rolling polynomial hash
  // hitting a modulus), not fixed offsets, so inserting or deleting a
  // byte re-aligns only the chunk it touches — every other chunk keeps
  // its fingerprint and dedups against history. The hash is a plain
  // 8-term base-31 polynomial over code points with boundary condition
  // h % 64 == 0 (expected chunk ~64 chars): exact integer arithmetic an
  // ANSI SQL twin reproduces bit-for-bit (31^7·65535·8 < 2^63 — no
  // modular reduction needed). Everything below is codegen'd
  // higher-order-function expressions — no UDF, no shuffle until the
  // caller aggregates.
  // -------------------------------------------------------------------

  /** Adds a per-doc chunk segment array `segs` ((start, len) structs,
    * content-defined) plus the coalesced text as `__t`. Zero-length
    * tails (text ending exactly on a boundary) are dropped; empty/null
    * text yields an empty segment array.
    *
    * The boundary scan is the fused codegen kernel
    * [[graft.functions.CdcBoundaries]] — one rolling pass over code
    * points, replacing a split→transform→filter HOF chain that
    * materialized a per-char string array per stage (and, lambdas
    * getting no CSE, re-ran upstream stages per element when inlined).
    * Stages still materialize as their OWN projected columns so the
    * frame expansion can't be substituted back into a filter.
    */
  private def withCdcSegments(docs: DataFrame, idCol: String,
                              textCol: String): DataFrame =
    docs.select(col(idCol), coalesce(col(textCol), lit("")).as("__t"))
      .withColumn("__cuts", graft.functions.CdcBoundaries(col("__t")))
      .withColumn("__full",
        concat(array(lit(0)), col("__cuts"), array(length(col("__t")))))
      .withColumn("segs", filter(
        transform(sequence(lit(1), size(col("__full")) - 1), t => struct(
          element_at(col("__full"), t.cast("int")).as("start"),
          (element_at(col("__full"), (t + 1).cast("int")) -
            element_at(col("__full"), t.cast("int"))).as("len"))),
        s => s.getField("len") > 0))
      .select(col(idCol), col("__t"), col("segs"))

  /** Per-doc CDC stats: chunk count, min/max chunk length, and an md5
    * probe over the length sequence (order-sensitive — a boundary moving
    * by one char changes the hash).
    */
  def cdcChunkStats(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    withCdcSegments(docs, idCol, textCol)
      .select(col(idCol),
        size(col("segs")).cast("bigint").as("n_chunks"),
        array_min(transform(col("segs"), s => s.getField("len")))
          .cast("bigint").as("min_len"),
        array_max(transform(col("segs"), s => s.getField("len")))
          .cast("bigint").as("max_len"),
        md5(concat_ws(",",
          transform(col("segs"), s => s.getField("len").cast("string"))))
          .as("lens_md5"))

  /** Exploded chunk rows: (id, start, len, fp) where fp = md5 of the
    * chunk text — the unit of cross-doc block-level dedup. Map-side;
    * only 16-byte digests (plus offsets) leave the scan.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // explode_OUTER, then drop the null rows of empty-seg docs: a plain
    // explode lets InferFiltersFromGenerate push an inferred
    // `size(segs) > 0` below the projections, substituting the whole
    // chunk expression tree into a per-row interpreted Filter — the
    // O(n²) blowup the staged projections exist to avoid. The null
    // filter here references the GENERATED attribute, so it can never
    // sink below the Generate.
    withCdcSegments(docs, idCol, textCol)
      .select(col(idCol), col("__t"), explode_outer(col("segs")).as("__c"))
      .filter(col("__c").isNotNull)
      .select(col(idCol),
        col("__c.start").cast("bigint").as("start"),
        col("__c.len").cast("bigint").as("len"),
        md5(col("__t").substr(col("__c.start") + 1, col("__c.len"))).as("fp"))

  /** Block-level incremental ingest gate — the CDC sibling of
    * [[Dedup.lshIngest]]/[[Dedup.winnowIngest]]: an arriving doc is
    * rejected when MORE than `maxDupShare` of its content-defined
    * chunks already exist in the stored chunk-fingerprint index. This
    * catches recombined/mixed content (half old boilerplate, half new)
    * that whole-doc fingerprints miss and that shingle sketches only
    * score probabilistically — CDC chunk identity is exact.
    *
    * Scale shape: ONLY the batch is chunked; the index side is a stored
    * distinct-fp table consumed by one semi-join; per-doc dup shares
    * are one aggregate over the batch's chunk stream. Decisions depend
    * only on the static index, so the gate is batch-split invariant
    * like every other ingest gate. Docs with zero chunks (empty text)
    * pass vacuously.
    */
  def cdcIngest(batch: DataFrame, indexFps: DataFrame, idCol: String,
                textCol: String, maxDupShare: Double = 0.5): DataFrame = {
    val chunks = cdcChunks(batch, idCol, textCol)
    val shares = chunks
      .join(indexFps.select(col("fp")).withColumn("__hit", lit(1L)),
        Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"),
        sum(coalesce(col("__hit"), lit(0L))).as("__nd"))
    val rejected = shares
      .filter(col("__nd") > lit(maxDupShare) * col("__n"))
      .select(col(idCol))
    batch.select(col(idCol)).join(rejected, Seq(idCol), "left_anti")
  }

  /** RAG-style sliding-window token chunker: every doc becomes
    * `1 + ceil(max(n_tokens − size, 0) / stride)` overlapping chunks of up
    * to `size` whitespace tokens starting every `stride` tokens — the
    * retrieval-index preprocessing step (chunk, embed, store) for long
    * documents. Emits (id, chunk_id, tok_start, n_tokens, chunk_text):
    * chunk ids are 0-based and dense per doc, `tok_start` is the 1-based
    * token offset, the final chunk truncates at the doc end (never an
    * empty trailing chunk — the start sequence stops at the last window
    * that adds coverage). `stride == size` degenerates to non-overlapping
    * splitting.
    *
    * Scale shape: ENTIRELY map-side — one tokenizer kernel pass, one
    * integer sequence explode, `slice`/`concat_ws` projections; no
    * shuffle, no state. 100 TB of documents chunk in one scan, and the
    * output partitioning inherits the input's (chunks of a doc stay in
    * its partition — the locality the downstream embed stage wants).
    */
  def slidingChunks(docs: DataFrame, idCol: String, textCol: String,
                    size: Int = 128, stride: Int = 64): DataFrame = {
    require(size >= 1, s"chunk size must be positive, got $size")
    require(stride >= 1 && stride <= size,
      s"stride must be in [1, size]; got stride=$stride size=$size")
    // tokens materialized BEFORE the windowing projections (the
    // portableShingleWindows lambda-inlining lesson: a tokenizer inside
    // the downstream expressions would re-run per reference)
    docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(org.apache.spark.sql.functions.size(col("__tk")) > 0)
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0),
          floor((greatest(org.apache.spark.sql.functions.size(col("__tk"))
            - size, lit(0)) + (stride - 1)) / stride).cast("int")))
          .as("chunk_id"))
      .withColumn("tok_start", col("chunk_id") * stride + 1)
      .withColumn("__chunk", slice(col("__tk"), col("tok_start"), lit(size)))
      .select(col(idCol), col("chunk_id"), col("tok_start"),
        org.apache.spark.sql.functions.size(col("__chunk")).as("n_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** Contrastive POSITIVE pair mining (the SimCSE/Contriever co-chunk
    * recipe): two NON-OVERLAPPING chunks of the same document form a
    * positive training pair for a dual encoder — same topic, disjoint
    * surface form, no labels needed. Pairs chunk i with chunk i + `gap`
    * where the default gap = ⌈size/stride⌉ guarantees zero token
    * overlap. Built INSIDE the doc row (both slices come from the one
    * materialized token array before the explode), so the operator is
    * pure map-side — no self-join, no shuffle, the [[slidingChunks]]
    * scale shape at any corpus size.
    */
  def coChunkPairs(docs: DataFrame, idCol: String, textCol: String,
                   size: Int = 128, stride: Int = 64,
                   gapOpt: Option[Int] = None): DataFrame = {
    require(size >= 1 && stride >= 1 && stride <= size,
      s"need 1 <= stride <= size; got stride=$stride size=$size")
    val gap = gapOpt.getOrElse((size + stride - 1) / stride)
    require(gap * stride >= size,
      s"gap=$gap overlaps: need gap*stride >= size")
    val sz = org.apache.spark.sql.functions.size _
    docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .filter(sz(col("__tk")) > 0)
      .withColumn("__last",
        floor((greatest(sz(col("__tk")) - size, lit(0)) + (stride - 1))
          / stride).cast("int"))
      .filter(col("__last") >= gap)
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0), col("__last") - gap)).as("a_chunk"))
      .withColumn("b_chunk", col("a_chunk") + gap)
      .select(col(idCol), col("a_chunk"), col("b_chunk"),
        concat_ws(" ", slice(col("__tk"), col("a_chunk") * stride + 1,
          lit(size))).as("a_text"),
        concat_ws(" ", slice(col("__tk"), col("b_chunk") * stride + 1,
          lit(size))).as("b_text"))
  }

  /** Fill-in-the-middle training-example construction (the FIM/span-
    * corruption preprocessing code models run at ingest): each document
    * with >= 3 tokens splits at two DETERMINISTIC cut points into
    * (prefix, middle, suffix), emitted in PSM order — input carries
    * prefix and suffix around sentinel tokens, target is the middle the
    * model learns to infill. Cut points derive from md5(doc_id) slices
    * (the engine's portable-determinism convention — DuckDB replays the
    * same hex arithmetic), so the SAME document always yields the SAME
    * example: reshuffling, re-sharding, or re-running the pipeline
    * never silently changes the training set. Pure map-side string
    * work; the corpus never shuffles.
    *
    * Cut arithmetic (n = token count): cut1 = 1 + h1 mod (n-2) in
    * [1, n-2], cut2 = cut1 + 1 + h2 mod (n-1-cut1) in [cut1+1, n-1] —
    * all three spans are non-empty by construction.
    */
  def fimSplit(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sz = org.apache.spark.sql.functions.size _
    def h(salt: String): Column =
      conv(substring(md5(concat(col(idCol).cast("string"), lit(salt))),
        1, 8), 16, 10).cast("long")
    docs.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .withColumn("__n", sz(col("__tk")).cast("long"))
      .filter(col("__n") >= 3)
      .withColumn("cut1", (lit(1L) + pmod(h(":f1"), col("__n") - 2))
        .cast("long"))
      .withColumn("cut2", (col("cut1") + 1L +
        pmod(h(":f2"), col("__n") - 1 - col("cut1"))).cast("long"))
      .select(col(idCol), col("cut1"), col("cut2"),
        concat(lit("<PRE> "),
          concat_ws(" ", slice(col("__tk"), lit(1),
            col("cut1").cast("int"))),
          lit(" <SUF> "),
          concat_ws(" ", slice(col("__tk"), (col("cut2") + 1).cast("int"),
            (col("__n") - col("cut2")).cast("int"))),
          lit(" <MID>")).as("fim_input"),
        concat_ws(" ", slice(col("__tk"), (col("cut1") + 1).cast("int"),
          (col("cut2") - col("cut1")).cast("int"))).as("fim_target"))
  }

  /** Per-source ADAPTIVE quality gate: each source sets its own bar —
    * drop the bottom `dropFrac` of its docs by quality rank (here: token
    * count, ties to smallest id). Absolute thresholds (a fixed
    * `min_tokens`) systematically over-prune terse sources and
    * under-prune verbose ones; ranking within the source normalizes the
    * distribution away, the per-domain calibration step curation recipes
    * run after the absolute gates. Rank-based and integer-exact by
    * construction (no percentile interpolation), so the cut is
    * deterministic and engine-portable: a doc survives iff
    * `rank > floor(dropFrac · m)` where m is its source's doc count.
    * Emits survivors (id, source, n_tokens, rank, m).
    *
    * Scale shape: ONE shuffle on source for the rank window + count
    * (both over the same partitioning, one exchange); token counts are
    * map-side. Source cardinality bounds nothing here — rows stream
    * through the window, nothing collects.
    */
  def adaptiveQualityGate(docs: DataFrame, idCol: String, srcCol: String,
                          textCol: String, dropFrac: Double = 0.25): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac must be in [0, 1), got $dropFrac")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col("n_tokens"), col(idCol))
    val wc = Window.partitionBy(col(srcCol))
    // NULL text counts as 0 tokens, explicitly: Spark's ascending window
    // sorts NULLs FIRST (rank 1 → dropped) while DuckDB sorts them LAST
    // (kept), so an un-coalesced NULL would silently diverge the gate
    // between engines the first time a corpus carries one
    docs.select(col(idCol), col(srcCol),
        coalesce(tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("n_tokens"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wc))
      .filter(col("rank") > floor(lit(dropFrac) * col("m")))
  }

  def blockByDomain(docs: DataFrame, idCol: String, textCol: String,
                    blocklist: DataFrame): DataFrame = {
    val withDomains = docs.select(col(idCol),
      expr(s"regexp_extract_all($textCol, 'https?://([^/\\\\s]+)', 1)")
        .as("__domains"))
    val hit = withDomains
      .select(col(idCol), explode(col("__domains")).as("domain"))
      .join(broadcast(blocklist.select(col("domain"))), Seq("domain"), "left_semi")
      .select(col(idCol)).distinct()
    withDomains.join(hit, Seq(idCol), "left_anti")
      .select(col(idCol), size(col("__domains")).as("n_urls"))
  }
}
