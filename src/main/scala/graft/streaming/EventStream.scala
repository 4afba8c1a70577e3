package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the events schema
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference has no event-time engine (its "stream" is an in-process
  * channel pipe, SURVEY.md §2.5) — these are the 100 TB-pipeline extensions:
  * watermarked tumbling-window rollups, native session windows, and a
  * flatMapGroupsWithState sessionizer for custom state logic. The same
  * transforms run in batch mode (see operators.Sessionize) — one logical
  * definition, two execution modes, which is exactly the Spark-first reason
  * to express them as DataFrame ops.
  */
object EventStream {

  /** Watermarked tumbling-window count+sum per event type. Late data beyond
    * the watermark is dropped; state is bounded by (window × types).
    */
  def windowedRollup(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))

  /** Native session windows (gap-based), Spark's built-in sessionization. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))

  /** Streaming exact dedup: first occurrence per key wins; state for a key
    * is dropped once the watermark passes its event time (bounded state).
    * The streaming counterpart of batch `Dedup.exact` — dedup a 100 TB
    * ingest stream by content fingerprint with the fingerprint computed
    * map-side (`TextAnalysis.fingerprint`) before this operator.
    */
  def streamingDedup(df: DataFrame, keyCols: Seq[String], tsCol: String,
                     watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming corpus intake: the quality-gate + PII-scrub + fingerprint
    * front door of a training pipeline, applied to an UNBOUNDED document
    * stream. Pure map-side column kernels (graft.operators.TextAnalysis) —
    * literally the same expressions as the batch path, which is the point:
    * one logical definition, the engine supplies incremental execution.
    * Chain [[streamingDedup]] on `fp` downstream for watermarked exact
    * dedup of the intake.
    */
  def corpusIntake(docs: DataFrame, textCol: String = "text",
                   minTokens: Int = 25, maxRepetition: Double = 0.5): DataFrame = {
    import graft.operators.TextAnalysis
    docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol)))
      .withColumn("rep_ratio", round(TextAnalysis.repetitionRatio(col(textCol)), 4))
      .filter(col("n_tokens") >= minTokens && col("rep_ratio") <= maxRepetition)
      .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
  }

  /** Streaming decontamination: drop stream documents sharing any word
    * n-gram with a STATIC eval/benchmark set — the streaming counterpart
    * of [[graft.operators.Dedup.decontaminate]]. An exploded-gram
    * semi-join can't express "doc has NO matching gram" on a stream
    * without a stream-stream anti-join (unsupported) or per-doc state, so
    * the eval grams — benchmark-sized, MB-scale by construction — collect
    * ONCE into a broadcast set and the gate is a stateless per-row
    * predicate: shingle map-side (codegen'd kernel), test membership.
    * The set-membership lambda is a justified UDF (the set lives in a
    * broadcast variable, unreachable from column expressions); for a
    * larger eval side swap the set for a Bloom filter with the same
    * might-contain ⇒ drop contract.
    */
  def streamingDecontaminate(docs: DataFrame, textCol: String,
                             evalDocs: DataFrame, evalTextCol: String,
                             n: Int = 8): DataFrame = {
    import graft.operators.Dedup
    val grams = evalDocs
      .select(explode(array_distinct(Dedup.shingles(col(evalTextCol), n))).as("gram"))
      .distinct().collect().map(_.getString(0)).toSet
    val bc = docs.sparkSession.sparkContext.broadcast(grams)
    val contaminated = udf((gs: Seq[String]) =>
      gs != null && gs.exists(bc.value.contains))
    docs.filter(!contaminated(Dedup.shingles(col(textCol), n)))
  }

  /** Streaming frozen-LM quality scoring: the stream-side twin of the
    * batch `d_lm_score_frozen` pattern. The bigram vocabulary
    * ([[graft.operators.TextAnalysis.bigramVocab]], trained once on a
    * reference corpus) collapses to a broadcast count map, and every
    * incoming doc is scored STATELESSLY in the map stage — no
    * stream-stream join, no state store, so the query runs at source
    * parallelism with append-mode semantics. Emits the same
    * (n_bigrams, hits, familiar_mass) columns as the batch operator
    * (docs with < 2 tokens score zeros; the batch side drops them —
    * filter n_bigrams > 0 for strict parity, pinned in the spec).
    * Tokenization strips SPACES only before the `\s+` split, exactly like
    * the batch kernel — Java `String.trim` would eat control chars
    * (≤ U+0020) off scraped text and silently break batch parity.
    */
  def streamingLmScore(docs: DataFrame, idCol: String, textCol: String,
                       vocab: DataFrame): DataFrame = {
    val counts = vocab.select(col("bigram"), col("c").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = docs.sparkSession.sparkContext.broadcast(counts)
    val score = udf((text: String) => {
      val toks =
        if (text == null) Array.empty[String]
        else {
          val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
          t.split("\\s+").filter(_.nonEmpty)
        }
      var n = 0L; var hits = 0L; var mass = 0L
      var i = 0
      while (i < toks.length - 1) {
        n += 1
        bc.value.get(toks(i) + " " + toks(i + 1)) match {
          case Some(c) => hits += 1; mass += c
          case None => ()
        }
        i += 1
      }
      (n, hits, mass)
    })
    docs.select(col(idCol), score(col(textCol)).as("s"))
      .select(col(idCol), col("s._1").as("n_bigrams"),
        col("s._2").as("hits"), col("s._3").as("familiar_mass"))
  }

  /** [[streamingDecontaminate]]'s scale variant: the static eval side
    * collapses into a broadcast Bloom filter (built by a distributed
    * aggregate, fixed size regardless of eval-set size) instead of an
    * exact in-memory set. One-sided error: a contaminated doc is NEVER
    * passed; `fpp` only drops extra clean docs. Use when the eval suite's
    * distinct grams outgrow executor memory as a plain set.
    */
  def streamingDecontaminateBloom(docs: DataFrame, textCol: String,
                                  evalDocs: DataFrame, evalTextCol: String,
                                  n: Int = 8, expectedGrams: Long = 10000000L,
                                  fpp: Double = 0.01): DataFrame = {
    import graft.operators.Dedup
    val bf = evalDocs
      .select(explode(array_distinct(Dedup.shingles(col(evalTextCol), n))).as("gram"))
      .stat.bloomFilter("gram", expectedGrams, fpp)
    val bc = docs.sparkSession.sparkContext.broadcast(bf)
    val contaminated = udf((gs: Seq[String]) =>
      gs != null && gs.exists(bc.value.mightContainString))
    docs.filter(!contaminated(Dedup.shingles(col(textCol), n)))
  }

  /** Streaming incremental LSH ingest — the production near-dup front door:
    * docs stream in, and a micro-batch doc survives iff none of its LSH
    * band keys collides with the STORED band index of the existing corpus
    * ([[graft.operators.Dedup.lshIngest]]). "No band collides" is a
    * per-doc negative-existence test, which a pure stream-static join
    * can't express without a streaming aggregate, so the gate runs the
    * exact batch operator per micro-batch via foreachBatch — the shape a
    * real ingest loop has anyway, because each accepted batch must also be
    * APPENDED to the stored index (do that inside `onBatch`). Since the
    * decision depends only on the static index, the result is
    * batch-split invariant: streamed survivors equal the batch operator
    * on the union, pinned by the StreamingSpec parity test.
    */
  def streamingLshIngest(docs: DataFrame, indexBands: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 8, nBands: Int = 4)
                        (onBatch: DataFrame => Unit) =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Dedup.lshIngest(
          batch.toDF(), indexBands, idCol, textCol, k, nBands))
    }

  /** Streaming span-reuse (plagiarism) gate — [[streamingLshIngest]] with
    * winnowing fingerprints: each micro-batch is winnowed batch-side only
    * and rejected on >= minShared fingerprints shared with the STORED
    * index ([[graft.operators.Dedup.winnowIngest]]). Per-doc decisions
    * depend only on the frozen index, so the gate is batch-split
    * invariant — pinned by the StreamingSpec parity test. `onBatch`
    * receives the survivors (and appends their fps to the store in the
    * steady-state loop).
    */
  def streamingWinnowIngest(docs: DataFrame, indexFps: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 4, w: Int = 4, minShared: Int = 2)
                           (onBatch: DataFrame => Unit) =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Dedup.winnowIngest(
          batch.toDF(), indexFps, idCol, textCol, k, w, minShared))
    }

  /** Streaming CDC block-level ingest — the [[streamingWinnowIngest]]
    * shape for [[graft.operators.TextAnalysis.cdcIngest]]: each
    * micro-batch is chunked map-side and a doc survives only if at most
    * `maxDupShare` of its content-defined chunks hit the frozen chunk
    * index. Decisions depend only on the static index — batch-split
    * invariant, pinned in StreamingSpec.
    */
  def streamingCdcIngest(docs: DataFrame, indexFps: DataFrame,
                         idCol: String, textCol: String,
                         maxDupShare: Double = 0.5)
                        (onBatch: DataFrame => Unit) =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.TextAnalysis.cdcIngest(
          batch.toDF(), indexFps, idCol, textCol, maxDupShare))
    }

  /** Streaming corpus-drift monitor: each arriving micro-batch of docs
    * scores its token mix against a FROZEN reference (the corpus's
    * top-K counts, [[graft.operators.TextAnalysis.driftReference]]) —
    * the per-drop JS alarm a production pipeline watches. Identical
    * fixed-point arithmetic to the batch operator by construction
    * (both call sourceDriftAgainst), pinned in StreamingSpec.
    */
  def streamingDrift(docs: DataFrame, textCol: String,
                     reference: DataFrame)(onBatch: DataFrame => Unit) =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        onBatch(graft.operators.TextAnalysis.sourceDriftAgainst(
          batch.toDF().withColumn("__batch", lit(id)),
          textCol, "__batch", reference))
    }

  /** Streaming perceptual ingest — [[streamingLshIngest]] for media: image
    * payloads stream in, each micro-batch decodes + dHashes map-side and
    * survives only if no stored-index hash lies within `maxHamming`
    * ([[graft.operators.Dedup.perceptualIngest]]); run per micro-batch via
    * foreachBatch for the same reason as the LSH gate (the accepted batch
    * must also append its hashes to the stored index inside `onBatch`).
    * Batch-split invariant, pinned by the StreamingSpec parity test.
    */
  def streamingPerceptualIngest(payloads: DataFrame, indexHashes: DataFrame,
                                maxHamming: Int = 3)
                               (onBatch: DataFrame => Unit) =
    payloads.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Dedup.perceptualIngest(
          graft.multimodal.Multimodal.dHashes(batch.toDF()),
          indexHashes, "media_id", "dhash", maxHamming))
    }

  /** Streaming append into a [[graft.operators.Similarity.writeIvfStore]]
    * physical ANN layout — the ingest-side sibling of
    * [[streamingPerceptualIngest]]: arriving vectors are coarse-assigned
    * map-side against the store's frozen codebook and APPENDED to its
    * centroid_id directories per micro-batch
    * ([[graft.operators.Similarity.appendIvfStore]]); stored-layout
    * queries then serve them with unchanged DPP probe pruning.
    * Batch-split invariant by construction — assignment depends only on
    * the frozen codebook, never on other stream rows — so any
    * micro-batching yields the same stored rows and therefore identical
    * query answers, pinned by the StreamingSpec parity test. Each
    * micro-batch appends under the store's staged pending marker, so a
    * store left marked by a crashed mutation fails the micro-batch, and
    * an append that dies part-way leaves the marker behind.
    */
  def streamingIvfAppend(vectors: DataFrame, idCol: String, vecCol: String,
                         coarse: Seq[Seq[Double]], path: String,
                         metaCols: Seq[String] = Nil) =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.appendIvfStore(
          batch.toDF(), idCol, vecCol, coarse, path, metaCols)
    }

  /** Streamed right-to-erasure for a centroid-partitioned vector store
    * (flat or two-level layout, raw or PQ codes): each tombstone
    * micro-batch compacts the layout IN PLACE via
    * [[graft.operators.Similarity.forgetIvfStoreAt]] — only directories
    * holding a tombstoned row rewrite, emptied directories are removed,
    * and a codes store's recorded exact-vector rerank sidecar forgets the
    * same ids. Removal is idempotent and commutative (an anti-join on
    * ids), so the final layout equals ONE compaction with all tombstones
    * under any micro-batching — pinned in StreamingSpec. Single-writer
    * like every store-maintenance path; pair with [[streamingIvfAppend]]
    * on separate stores, never interleaved on one.
    */
  def streamingIvfForget(tombstones: DataFrame, idCol: String,
                         path: String) =
    tombstones.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.forgetIvfStoreAt(
          batch.sparkSession, path, batch.toDF(), idCol)
    }

  /** [[streamingIvfForget]] for the BM25 postings stores — a GDPR
    * tombstone feed is naturally a stream, and erasure is an anti-join
    * (idempotent, commutative), so per-micro-batch compaction lands the
    * same store as one batch call with every tombstone (parity pinned
    * in StreamingSpec). `grain` is "doc" (a plain or fielded store —
    * the forget reads the layout off the store) or "chunk" (tombstones
    * are PARENT doc ids). Single writer per store, like every mutation
    * path.
    */
  def streamingBm25Forget(tombstones: DataFrame, idCol: String,
                          path: String, grain: String = "doc",
                          chunkIdBits: Int = 20) = {
    require(grain == "doc" || grain == "chunk",
      s"unknown forget grain: $grain (doc|chunk)")
    tombstones.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        if (grain == "chunk")
          graft.operators.Retrieval.forgetBm25ChunkStoreAt(
            b.sparkSession, path, b, idCol, chunkIdBits = chunkIdBits)
        else
          graft.operators.Retrieval.forgetBm25StoreAt(
            b.sparkSession, path, b, idCol)
    }
  }

  /** [[streamingBm25Forget]] for the refcounted winnow store: refcount
    * decrements are integer subtractions keyed by the attribution
    * sidecar, so per-micro-batch erasure lands the same store as one
    * batch call with every tombstone (parity pinned in StreamingSpec).
    */
  def streamingWinnowForget(tombstones: DataFrame, idCol: String,
                            path: String) =
    tombstones.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Dedup.forgetWinnowStoreAt(
          batch.sparkSession, path, batch.toDF(), idCol)
    }

  /** [[streamingWinnowForget]] for the stored NB model — EXACT streamed
    * unlearning, closing the streaming-erasure symmetry across all four
    * erasable layouts (bm25 / ivf / winnow / nb). Tombstones carry
    * CONTENT (id, text, label — the
    * [[graft.operators.Classify.forgetNbStoreAt]] contract: unlearning
    * must know what to subtract, so the model forget runs before corpus
    * erasure). Decrements are integer count subtractions re-derived
    * through the shared weight expressions and the membership sidecar
    * ignores re-deliveries, so ANY micro-batching of a tombstone feed
    * lands the same retrained store as one batch call with every
    * tombstone (parity pinned in StreamingSpec).
    */
  def streamingNbForget(tombDocs: DataFrame, idCol: String,
                        textCol: String, labelCol: String, path: String) =
    tombDocs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Classify.forgetNbStoreAt(
          batch.sparkSession, path, batch.toDF(), idCol, textCol, labelCol)
    }

  /** [[streamingIvfAppend]] for a TWO-LEVEL layout: identical contract
    * (frozen codebook, per-micro-batch fenced append, batch-split
    * invariant), assignment through the two-level kernel so ingest stays
    * O(2√C·d) per row at any codebook size.
    */
  def streamingIvfAppendTwoLevel(vectors: DataFrame, idCol: String,
      vecCol: String, cb: graft.operators.Similarity.TwoLevelCodebook,
      path: String, metaCols: Seq[String] = Nil) =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.operators.Similarity.appendIvfStoreTwoLevel(
          batch.toDF(), idCol, vecCol, cb, path, metaCols)
    }

  /** Streaming DSIR scoring against a FROZEN distribution table — the
    * [[streamingLmScore]] pattern for importance resampling: the
    * `(b, pt, pr)` integer-ppm table from
    * [[graft.operators.Splits.dsirDistribution]] (a few hundred rows)
    * collects once onto the driver and broadcasts; each arriving doc is
    * scored map-side by Σ over its tokens of `pt(bucket) − pr(bucket)` —
    * linear in token occurrences, so no per-doc bucket map is even
    * needed. The JVM-side digest reproduces the batch pipeline's
    * `conv(substr(md5(token),1,6),16,10) % buckets` bucket bit-for-bit
    * (first 3 md5 bytes as a 24-bit int), and tokenization strips SPACES
    * only before the `\s+` split exactly like SQL `trim` — so streamed
    * scores equal batch [[graft.operators.Splits.dsirSelect]] scores,
    * pinned in StreamingSpec. Stateless map: append-mode safe, full
    * parallelism, no shuffle.
    */
  def streamingDsirScore(docs: DataFrame, idCol: String, textCol: String,
                         ppm: DataFrame, buckets: Int = 512): DataFrame = {
    val table = ppm.select(col("b"), col("pt"), col("pr")).collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2)) // degenerate empty-side training → contribution 0
      .map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    val bc = docs.sparkSession.sparkContext.broadcast(table)
    val score = udf((text: String) => {
      val toks =
        if (text == null) Array.empty[String]
        else {
          val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ')
            .reverse.toLowerCase
          t.split("\\s+").filter(_.nonEmpty)
        }
      val md = java.security.MessageDigest.getInstance("MD5")
      var s = 0L
      toks.foreach { tk =>
        md.reset()
        val h = md.digest(tk.getBytes("UTF-8"))
        val v = ((h(0) & 0xFF) << 16) | ((h(1) & 0xFF) << 8) | (h(2) & 0xFF)
        s += bc.value.getOrElse((v % buckets).toLong, 0L)
      }
      s
    })
    docs.select(col(idCol), score(col(textCol)).as("score"))
  }

  /** Streaming boilerplate removal against a FROZEN common-line set —
    * the [[streamingDsirScore]] pattern for
    * [[graft.operators.Dedup.lineDedupRewrite]]: the corpus-trained
    * common set ([[graft.operators.Dedup.commonLines]], a bounded
    * boilerplate vocabulary) collects once and broadcasts; each arriving
    * doc is rewritten map-side — common lines dropped in place, order
    * preserved, emptied docs filtered. `split("\n", -1)` keeps trailing
    * empty lines exactly like Spark SQL's split, so streamed rewrites
    * equal the batch operator given the same set (pinned in
    * StreamingSpec). Stateless map: append-safe, no shuffle.
    */
  def streamingLineClean(docs: DataFrame, idCol: String, textCol: String,
                         commonLines: DataFrame): DataFrame = {
    val set = commonLines.select(col("line")).collect()
      .map(_.getString(0)).toSet
    val bc = docs.sparkSession.sparkContext.broadcast(set)
    val clean = udf((text: String) =>
      if (text == null) ""
      else text.split("\n", -1).filter(l => !bc.value.contains(l)).mkString("\n"))
    docs.select(col(idCol), clean(col(textCol)).as("clean_text"))
      .filter(length(col("clean_text")) > 0)
  }

  /** Streaming right-to-erasure — [[graft.operators.Dedup.forgetDocs]]
    * over an update stream that interleaves index ADDS with FORGET
    * tombstones. Semantics are tombstone-wins-forever: a forgotten id
    * stays out of the index even if its add arrives in a LATER
    * micro-batch (deletion requests race ingest in production; the
    * ledger makes the race benign). That is exactly what makes the
    * operator batch-split invariant — final state = all adds minus all
    * tombstones regardless of how the stream was micro-batched (pinned
    * in StreamingSpec) — where per-batch-only application would leak a
    * tombstoned id whose add landed in a later batch. Per batch: the
    * tombstone ledger unions in the batch's forgets (ids only, tiny),
    * then one anti-join compacts index ∪ batch-adds; at scale both
    * stores are tables and this is the same two-table merge, the
    * [[streamingLshIngest]] store-maintenance shape.
    *
    * Storage contract: each micro-batch eagerly checkpoints the new
    * index/ledger generation and UNPERSISTS the previous one, so
    * block-manager usage stays O(|index|), not O(|index| · batches).
    * `onState` therefore must consume its DataFrame before the next
    * batch commits (collect/write it; don't cache the reference).
    */
  def streamingForget(updates: DataFrame, idCol: String, opCol: String,
                      initialIndex: DataFrame)(onState: DataFrame => Unit) = {
    var index = initialIndex.localCheckpoint(true)
    var ledger: Option[DataFrame] = None
    updates.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val tombs = b.filter(col(opCol) === "forget").select(col(idCol))
        val nextLedger = ledger.fold(tombs)(_.unionByName(tombs))
          .distinct().localCheckpoint(true)
        val adds = b.filter(col(opCol) === "add").drop(opCol)
        val nextIndex = graft.operators.Dedup.forgetDocs(
          index.unionByName(adds), nextLedger, idCol).localCheckpoint(true)
        // eager checkpoints above already materialized, so the previous
        // generation's blocks are dead — drop them or block-manager
        // storage grows by |index| every micro-batch of a long stream
        ledger.foreach(_.unpersist())
        index.unpersist()
        ledger = Some(nextLedger)
        index = nextIndex
        onState(index)
    }
  }

  /** Streaming data-card maintenance: a stream of corpus edits (op =
    * "add" | "remove", with the full doc row) folds into the
    * fingerprint-granular card index per micro-batch via
    * [[graft.operators.DataCard.applyDelta]] — exact multiset
    * arithmetic, so the fold is associative AND commutative across
    * batches: any micro-batching of the same edit stream lands on the
    * same index (and therefore the same card at every rollup level),
    * pinned by the StreamingSpec parity test. `onState` receives the
    * updated index after each batch (persist it as the stored layout).
    *
    * Well-formedness: a remove must refer to a doc present in the index
    * (the zero-count cleanup would otherwise swallow the negative
    * balance a later out-of-order add should cancel) — the same
    * publisher contract every delta-maintained view requires.
    *
    * Storage contract: the superseded index generation is unpersisted
    * once the new checkpoint materializes (see [[streamingForget]]) —
    * consume `onState`'s frame within the batch.
    */
  def streamingCardMaintain(updates: DataFrame, opCol: String,
                            langCol: String, srcCol: String, textCol: String,
                            initialIndex: DataFrame)(onState: DataFrame => Unit) = {
    var index = initialIndex.localCheckpoint(true)
    updates.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val next = graft.operators.DataCard.applyDelta(index,
          b.filter(col(opCol) === "remove").drop(opCol),
          b.filter(col(opCol) === "add").drop(opCol),
          langCol, srcCol, textCol).localCheckpoint(true)
        index.unpersist() // next is eagerly materialized; prior gen is dead
        index = next
        onState(index)
    }
  }

  case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(count: Long, sum: Double, lastTs: Long)
  case class SessionOut(user_id: Long, n_events: Long, value_sum: Double)

  /** Streaming categorical scoring against a FROZEN target encoder — the
    * [[streamingLmScore]] shape for [[graft.SparkEntry]]'s LOO target
    * encoding: the (category → sum, n) table is trained ONCE on the
    * reference corpus, broadcast, and each arriving event is scored
    * statelessly. Inference-time encoding is the frozen PLAIN mean (the
    * reference rows' own-target exclusion doesn't apply to unseen rows);
    * unseen categories take the global mean. Identical integer
    * arithmetic to the batch spelling by construction, parity pinned in
    * the spec over uneven micro-batches.
    */
  def streamingTargetEncode(events: DataFrame, idCol: String,
                            catCol: String, valueCol: String,
                            encoder: DataFrame): DataFrame = {
    // encoder: (category, t_sum cents, t_n) rows — |categories|-bounded
    val rows = encoder
      .select(col("cat"), col("t_sum").cast("long"), col("t_n").cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
    val gSum = rows.map(_._2._1).sum
    val gN = rows.map(_._2._2).sum
    val bc = events.sparkSession.sparkContext.broadcast(rows.toMap)
    val enc = udf((cat: String) => bc.value.get(cat) match {
      case Some((s, n)) if n > 0 => s * 10000L / n
      case _ => if (gN > 0) gSum * 10000L / gN else 0L
    })
    events.select(col(idCol), col(catCol).as("cat"),
        col(valueCol).as("value"))
      .select(col(idCol), col("cat"), enc(col("cat")).as("enc_micro"))
  }

  case class PackIn(doc_id: Long, shard: Int, tokens: Long)
  case class PackState(bin: Long, used: Long)
  case class PackOut(doc_id: Long, shard: Int, tokens: Long,
                     bin: Long, bin_used: Long)

  /** ONLINE no-split packing — the streaming twin of
    * [[graft.operators.Splits.packGreedy]]: documents arrive as a stream
    * (the training-data loader's intake), each shard keeps a (bin, used)
    * cursor in flatMapGroupsWithState state, and every document is
    * assigned its bin the moment it arrives. Next-fit needs ONLY that
    * cursor — no lookback — which is what makes it the online packing
    * rule; state is O(shards), constant in stream length.
    *
    * Parity contract (pinned in StreamingSpec): when documents arrive in
    * id order per shard — the stream IS the layout order — the streamed
    * assignment equals the batch operator's regardless of how
    * micro-batches split the stream. In-batch rows are sorted by id
    * before folding, so any batch boundary lands between folds.
    * Documents longer than `budget` are excluded, as in batch.
    */
  def streamingPack(docs: DataFrame, idCol: String,
                    tokensCol: org.apache.spark.sql.Column,
                    budget: Long, shards: Int = 8): Dataset[PackOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        (col(idCol) % shards).cast("int").as("shard"),
        tokensCol.cast("bigint").as("tokens"))
      .filter(col("tokens") <= budget)
      .as[PackIn]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[PackState, PackOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[PackState]) =>
          var cur = state.getOption.getOrElse(PackState(0L, 0L))
          val out = rows.toSeq.sortBy(_.doc_id).map { r =>
            cur =
              if (cur.used + r.tokens > budget) PackState(cur.bin + 1, r.tokens)
              else PackState(cur.bin, cur.used + r.tokens)
            PackOut(r.doc_id, shard, r.tokens, cur.bin, cur.used)
          }
          state.update(cur)
          out.iterator
      }
  }

  /** Custom stateful sessionizer via flatMapGroupsWithState — the extension
    * point for session logic session_window can't express (e.g. emit on
    * explicit "logout" events, cap session length). A session closes either
    * by an in-batch gap or by an event-time timeout once the watermark
    * passes lastTs + gap. Event-time (not processing-time) timeouts keep
    * the operator deterministic — replaying the same data gives the same
    * sessions — and avoid wall-clock-driven no-data micro-batches.
    */
  def statefulSessions(events: Dataset[Event],
                       gapMs: Long = 30L * 60 * 1000,
                       watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.count, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MinValue))
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            sorted.foreach { e =>
              if (cur.count > 0 && e.ts.getTime - cur.lastTs > gapMs) {
                closed += SessionOut(userId, cur.count, cur.sum)
                cur = SessionState(0L, 0.0, Long.MinValue)
              }
              cur = SessionState(cur.count + 1, cur.sum + e.value, e.ts.getTime)
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.lastTs + gapMs)
            closed.iterator
          }
      }
  }

  /** STREAM-STREAM event-time join — the attribution shape where BOTH
    * sides are unbounded: each purchase joins every click by the same
    * user within the `lookback` window before it. Watermarks on both
    * sides bound the join state (a click can be dropped once the
    * purchase-side watermark passes click_ts + lookback; Spark derives
    * the eviction from the time-bound predicate), so state is
    * O(window · rate), not O(stream). Append-mode; result rows equal
    * the batch range-join spelling over the same data regardless of how
    * micro-batches split the two sides — pinned in StreamingSpec.
    */
  def streamingClickAttribution(purchases: DataFrame, clicks: DataFrame,
                                lookback: String = "30 minutes",
                                watermark: String = "1 hour"): DataFrame = {
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"), col("value"))
      .withWatermark("c_ts", watermark)
    p.join(c, expr(
        s"""user_id = c_user AND
           |c_ts >= p_ts - interval $lookback AND c_ts <= p_ts"""
          .stripMargin))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        col("c_ts"), col("value"))
  }

  case class ThrottleEvent(event_id: Long, user_id: Long,
                           event_type: String, ts_us: Long)
  case class ThrottleState(lastTs: Long)

  /** Streaming twin of [[graft.operators.Sessionize.throttleDedup]]:
    * per-(user, type) debounce with ONE scalar of state — the last seen
    * event's micros. Because the batch rule keys the drop decision on the
    * immediate predecessor (not the last KEPT event), split invariance is
    * by construction: that predecessor is either earlier in this batch
    * (sorted locally) or exactly the state scalar, for ANY micro-batching
    * that preserves per-key arrival order. Pinned against the batch
    * operator in StreamingSpec over uneven splits.
    */
  def streamingThrottle(events: DataFrame, minGapUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us")).as[ThrottleEvent]
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[ThrottleState, ThrottleEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[ThrottleState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var last: Option[Long] = state.getOption.map(_.lastTs)
          val kept = scala.collection.mutable.ArrayBuffer[ThrottleEvent]()
          sorted.foreach { e =>
            if (last.forall(l => e.ts_us - l >= minGapUs)) kept += e
            last = Some(e.ts_us)
          }
          last.foreach(l => state.update(ThrottleState(l)))
          kept.iterator
      }.toDF()
  }

  /** Streaming trained-classifier scoring: classify arriving docs against a
    * FROZEN Naive Bayes model ([[graft.operators.Classify.nbModel]] /
    * `nbClassBase`) — the classifier sibling of [[streamingLmScore]]. The
    * model is collected once (|vocab| x |classes|, bounded — the vocab
    * saturates) and broadcast; each micro-batch is scored map-side with no
    * state and no shuffle, so the query is split-invariant: streamed rows
    * equal the batch `nbPredict` rows exactly for any micro-batching.
    * Integer fixed-point arithmetic end to end, same as batch.
    */
  def streamingNbPredict(docs: DataFrame, idCol: String, textCol: String,
                         model: DataFrame, base: DataFrame): DataFrame = {
    val weights = model.select(col("term"), col("label"), col("w").cast("long"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (t, rows) =>
        t -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap }
    val classes = base.select(col("label"), col("prior").cast("long"),
        col("def_w").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val bcW = docs.sparkSession.sparkContext.broadcast(weights)
    val bcC = docs.sparkSession.sparkContext.broadcast(classes)
    val predict = udf((text: String) => {
      val toks =
        if (text == null) Array.empty[String]
        else {
          // space-strip only, then \s+ split — the WordShingles kernel's
          // tokenization (see streamingLmScore's control-char note)
          val t = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
          t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        }
      val tf = scala.collection.mutable.HashMap.empty[String, Long]
      toks.foreach(t => tf.update(t, tf.getOrElse(t, 0L) + 1L))
      var bestLabel: String = null
      var bestScore = Long.MinValue
      bcC.value.foreach { case (label, prior, defW) =>
        var s = prior + toks.length * defW
        tf.foreach { case (t, n) =>
          bcW.value.get(t).flatMap(_.get(label)).foreach(w => s += n * w)
        }
        // strictly-greater keeps the label-ascending tie-break (classes
        // iterate in sorted order)
        if (s > bestScore) { bestScore = s; bestLabel = label }
      }
      (bestLabel, bestScore)
    })
    docs.select(col(idCol), predict(col(textCol)).as("p"))
      .select(col(idCol), col("p._1").as("pred"), col("p._2").as("score"))
  }

  /** Streaming retrieval against a FROZEN BM25 postings store — the
    * query-side streaming shape for
    * [[graft.operators.Retrieval.bm25TopKStored]]: queries arrive as a
    * stream; each micro-batch is broadcast (term sets only) against the
    * static postings table and scored through the identical fixed-point
    * chain, so stream results per query are bit-equal to the batch
    * operator and trivially batch-split invariant (each query's top-k
    * depends only on the frozen store — pinned in StreamingSpec).
    * Unlike the NB scorer above, the model side here is a full postings
    * TABLE (too big to collect at corpus scale), so this runs the
    * stream-static join per batch via foreachBatch rather than a
    * broadcast UDF.
    */
  def streamingBm25TopK(queries: DataFrame, qIdCol: String, qTextCol: String,
                        store: graft.operators.Retrieval.Bm25Store,
                        idCol: String, k1: Double = 1.2, b: Double = 0.75,
                        topK: Int = 10)(onBatch: DataFrame => Unit) =
    queries.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Retrieval.bm25TopKStored(
          store, batch.toDF(), idCol, qIdCol, qTextCol, k1, b, topK))
    }

  /** Streaming ANN serving against a FROZEN centroid-partitioned IVF
    * store — query vectors arrive as a stream, each micro-batch emits its
    * queries' exact-cosine top-k via
    * [[graft.operators.Similarity.ivfTopKStored]] (probe pruning stays
    * directory pruning; the store never reloads). Each query's list
    * depends only on its own vector and the static store (the
    * [[streamingBm25TopK]] shape), so accumulated stream output is
    * bit-equal to one batch probe under ANY micro-batching — pinned in
    * ExtensionsSpec. `excludeSelf` defaults OFF: streamed queries are
    * usually not store members (the ann-search extractor convention).
    */
  def streamingAnnTopK(queries: DataFrame, idCol: String, vecCol: String,
      store: DataFrame, coarse: Seq[Seq[Double]], k: Int = 10,
      nprobe: Int = 3, excludeSelf: Boolean = false)(
      onBatch: DataFrame => Unit) =
    queries.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Similarity.ivfTopKStored(store,
          batch.toDF(), idCol, vecCol, k, coarse, nprobe, excludeSelf))
    }

  /** Streaming dense+sparse hybrid serving — each query row carries BOTH
    * modalities (its text and its vector); per micro-batch the lexical
    * leg scores the frozen BM25 postings store, the dense leg probes the
    * frozen IVF layout, and integer RRF fuses the two top lists (the
    * graded s_hybrid_dense_sparse composition, served streaming). Both
    * stores are static and each query's fused list depends only on its
    * own row, so accumulated stream output is bit-equal to one batch
    * fusion under ANY micro-batching — pinned in ExtensionsSpec.
    */
  def streamingHybridTopK(queries: DataFrame, qIdCol: String,
      qTextCol: String, vecCol: String,
      bm25: graft.operators.Retrieval.Bm25Store, idCol: String,
      ivf: DataFrame, ivfIdCol: String, coarse: Seq[Seq[Double]],
      legK: Int = 10, k0: Int = 60, topK: Int = 10, nprobe: Int = 3)(
      onBatch: DataFrame => Unit) =
    queries.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = batch.toDF()
        val bm = graft.operators.Retrieval.bm25TopKStored(bm25, b, idCol,
            qIdCol, qTextCol, topK = legK)
          .select(col("q_id"), col("rnk"), col(idCol))
        val dense = graft.operators.Similarity.ivfTopKStored(ivf,
            b.select(col(qIdCol).as(ivfIdCol), col(vecCol)), ivfIdCol,
            vecCol, legK, coarse, nprobe, excludeSelf = false)
          .select(col("q_id"), col("rank").as("rnk"),
            col("c_id").as(idCol))
        onBatch(graft.operators.Retrieval.rrfFuse(Seq(bm, dense), idCol,
          k0, topK))
    }

  /** Streaming contrastive-example construction against a FROZEN chunk
    * postings store — documents arrive as a stream, each micro-batch
    * emits its docs' (anchor co-chunk, positive co-chunk, mined
    * negatives) records via
    * [[graft.operators.Retrieval.contrastiveExamples]]. Every doc's
    * examples depend only on its own text and the static store (the
    * [[streamingBm25TopK]] shape), so accumulated stream output is
    * bit-equal to one batch run under ANY micro-batching — pinned in
    * StreamingSpec.
    */
  def streamingContrastiveExamples(docs: DataFrame, idCol: String,
      textCol: String, store: graft.operators.Retrieval.Bm25Store,
      size: Int = 16, stride: Int = 8, negK: Int = 3,
      chunkIdBits: Int = 20)(onBatch: DataFrame => Unit) =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        onBatch(graft.operators.Retrieval.contrastiveExamples(
          batch.toDF(), store, idCol, textCol, size, stride, negK,
          chunkIdBits))
    }
}
