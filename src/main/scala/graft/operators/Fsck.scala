package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `graft fsck <store>` — a READ-ONLY invariant auditor over every
  * persisted index layout this engine writes. Operators running erasure
  * under the staged pending marker need a cheap "is this store
  * internally consistent" answer before and after mutations; fsck gives
  * it without ever writing a byte:
  *
  *  - bm25 / bm25f / chunk: dfreq and stats are exactly the postings
  *    aggregates; the id sidecar covers every posting doc and its
  *    `tbuckets` pruning lists name exactly the doc's real postings
  *    directories; every row sits in the directory its term hashes to
  *    under the store's FROZEN bucket count.
  *  - ivf / pq2 codes: the persisted codebook names every centroid
  *    directory; the `_graft_ids` erasure sidecar mirrors the store's
  *    (id, home) pairs exactly; a codes store's recorded rerank linkage
  *    is reachable and holds an exact vector for EVERY stored code (the
  *    erasure-cascade prerequisite).
  *  - vector (rerank): every row sits in the directory `pmod(id, parts)`
  *    derives under the store's frozen parts.
  *  - winnow: refcounts equal the attribution sidecar's per-fp counts;
  *    both tables sit in their frozen-moduli directories.
  *  - nb: the model and base tables re-derive bit-for-bit from their own
  *    integer counts through the shared training expressions, and the
  *    per-class doc counts sum to the membership sidecar.
  *
  * Every layout also reports its pending-marker status: a present marker
  * means a mutation died mid-flight and the store needs its documented
  * recovery before anything else trusts it.
  *
  * Scale shape: every check is a distributed aggregate or anti-join —
  * nothing collects data rows to the driver; a 100 TB store audits as a
  * handful of column-pruned scans.
  */
object Fsck {

  /** One audit result: `ok = false` names an invariant violation (or an
    * unreadable table, reported rather than thrown). */
  final case class Finding(layout: String, check: String, ok: Boolean,
                           detail: String)

  /** Which persisted layout `path` holds, detected off each layout's own
    * commit signal (the same dispatch discipline as the sinks). */
  def detect(spark: SparkSession, path: String): String =
    if (Layout.exists(spark, s"$path/_graft_pq2/subs/_graft_codebook"))
      "pq2-codes"
    else if (Layout.exists(spark, s"$path/_graft_codebook")) "ivf"
    else if (Dedup.winnowStoreExistsAt(spark, path)) "winnow"
    else if (Layout.exists(spark, s"$path/base/_SUCCESS") &&
      Layout.exists(spark, s"$path/model")) "nb"
    else if (Layout.exists(spark, s"$path/postings"))
      (if (Retrieval.isPlainBm25StoreAt(spark, path)) "bm25" else "bm25f")
    else if (Similarity.vectorStorePartsAt(spark, path).isDefined) "vector"
    else throw new IllegalArgumentException(
      s"$path holds no recognizable graft index layout (no pq2/codebook/" +
        "winnow/nb/postings/vector commit signal)")

  /** Run every invariant check for the detected layout. Read-only. */
  def audit(spark: SparkSession, path: String): Seq[Finding] = {
    val layout = detect(spark, path)
    val pending = Layout.exists(spark, s"$path/_graft_merge_pending")
    val marker = Finding(layout, "pending_marker", !pending,
      if (pending)
        "a mutation died mid-flight (_graft_merge_pending present) — " +
          "recover per the store's documented protocol before trusting it"
      else "no stranded mutation marker")
    val checks = try {
      layout match {
        case "bm25" => bm25Checks(spark, path, fielded = false)
        case "bm25f" => bm25Checks(spark, path, fielded = true)
        case "winnow" => winnowChecks(spark, path)
        case "nb" => nbChecks(spark, path)
        case "ivf" => ivfChecks(spark, path)
        case "pq2-codes" => pq2Checks(spark, path)
        case "vector" => vectorChecks(spark, path)
      }
    } catch {
      case e: Exception => Seq(Finding(layout, "readable", ok = false,
        s"audit aborted: ${e.getMessage}"))
    }
    marker +: checks
  }

  private def f(layout: String, check: String, bad: Long,
                what: String): Finding =
    Finding(layout, check, bad == 0,
      if (bad == 0) s"0 $what" else s"$bad $what")

  /** Count of rows on which two frames disagree as MULTISETS (both
    * directions of exceptAll — catches missing, extra, and duplicated
    * rows alike). Columns are aligned by name first. */
  private def diff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.map(col).toSeq
    val (x, y) = (a.select(cols: _*), b.select(cols: _*))
    x.exceptAll(y).count() + y.exceptAll(x).count()
  }

  // ---------------------------------------------------------------- bm25

  private def bm25Checks(spark: SparkSession, path: String,
                         fielded: Boolean): Seq[Finding] = {
    val layout = if (fielded) "bm25f" else "bm25"
    val post = spark.read.parquet(s"$path/postings")
    val side = spark.read.parquet(s"$path/docs")
    val idCol = side.columns
      .filterNot(Set("tbuckets", "dbucket")).head
    // stores predating the persisted layout / the tbuckets sidecar are
    // DOCUMENTED-WEAKER generations (mutations fall back to full scans),
    // not corruption — report them as legacy, never as failures
    val buckets = Retrieval.readLayoutMeta(spark, path)
    // every postings row in the directory its term hashes to, under the
    // store's FROZEN bucket count — a mis-bucketed row is invisible to
    // every pruned read and mutation
    val bucketChecks = buckets match {
      case Some(b) if post.columns.contains("bucket") =>
        Seq(
          f(layout, "postings_bucketing",
            post.filter(col("bucket") =!=
              pmod(xxhash64(col("term")), lit(b)).cast("int")).count(),
            "postings rows outside their term-hash directory"),
          f(layout, "sidecar_bucketing",
            side.filter(col("dbucket") =!=
              pmod(xxhash64(col(idCol)), lit(b)).cast("int")).count(),
            "sidecar rows outside their id-hash directory"))
      case _ =>
        Seq(Finding(layout, "postings_bucketing", ok = true,
          "legacy store (no persisted _graft_layout / unbucketed " +
            "postings) — mutations full-scan by contract; checks skipped"))
    }
    // sidecar covers every posting doc (a doc erasure can't find is a
    // doc erasure silently skips)
    val orphans = post.select(col(idCol)).distinct()
      .join(side.select(col(idCol)), Seq(idCol), "left_anti").count()
    // tbuckets name exactly the doc's real postings directories — the
    // forget finder prunes by them, so a stale list skips live rows
    val tbCheck =
      if (side.columns.contains("tbuckets") && post.columns.contains("bucket")) {
        val tbActual = post
          .select(col(idCol), col("bucket").cast("int").as("__b"))
          .groupBy(col(idCol))
          .agg(sort_array(collect_set(col("__b"))).as("tbuckets"))
        val tbStored = side.filter(size(col("tbuckets")) > 0)
          .select(col(idCol), col("tbuckets"))
        f(layout, "sidecar_tbuckets", diff(tbStored, tbActual),
          "docs whose tbuckets pruning list drifted from their postings")
      } else Finding(layout, "sidecar_tbuckets", ok = true,
        "legacy sidecar (no tbuckets) — the forget finder full-scans " +
          "by contract; check skipped")
    val stats = spark.read.parquet(s"$path/stats")
    val core = bucketChecks ++ Seq(
      f(layout, "sidecar_membership", orphans,
        "posting docs missing from the id sidecar"),
      tbCheck)
    if (fielded) {
      // stats ≡ postings aggregates per field (n_docs from the sidecar —
      // zero-token docs still dilute avgdl)
      val derived = post.groupBy(col("f"))
        .agg(sum(col("tf")).as("tot_f"))
        .crossJoin(broadcast(side.agg(count(lit(1)).as("n_docs"))))
        .select(col("f"), col("n_docs"), col("tot_f"))
      core :+ f(layout, "stats_aggregates",
        diff(stats, derived), "stats rows drifting from the postings")
    } else {
      val dfreq = spark.read.parquet(s"$path/dfreq")
      val dfDrift = diff(dfreq.select(col("term"), col("df")),
        Retrieval.dfreqOf(post.drop("bucket")))
      val derivedStats = side.agg(count(lit(1)).as("n_docs"))
        .crossJoin(post.agg(coalesce(sum(col("tf")), lit(0L)).as("tot")))
      core ++ Seq(
        f(layout, "dfreq_aggregates", dfDrift,
          "dfreq rows drifting from the postings"),
        f(layout, "stats_aggregates", diff(stats, derivedStats),
          "stats rows drifting from the postings/sidecar"))
    }
  }

  // -------------------------------------------------------------- winnow

  private def winnowChecks(spark: SparkSession,
                           path: String): Seq[Finding] = {
    val (_, _, fpB, docB) = Dedup.winnowLayoutAt(spark, path)
    val fps = spark.read.parquet(s"$path/fps")
    val side = spark.read.parquet(s"$path/docs")
    val idCol = side.columns.filterNot(Set("fp", "dbucket")).head
    // refcounts ≡ the attribution sidecar's per-fp counts: a drifted
    // refcount either blocks resubmissions forever (too high) or lets an
    // erased-in-name-only span keep gating (too low)
    val refDrift = diff(fps.select(col("fp"), col("refs")),
      side.groupBy(col("fp")).agg(count(lit(1)).as("refs")))
    val misFps = fps.filter(col("fbucket") =!=
      pmod(xxhash64(col("fp")), lit(fpB)).cast("int")).count()
    val misSide = side.filter(col("dbucket") =!=
      pmod(xxhash64(col(idCol)), lit(docB)).cast("int")).count()
    Seq(
      f("winnow", "refcounts_vs_sidecar", refDrift,
        "fps whose refcount drifted from the attribution sidecar"),
      f("winnow", "fps_bucketing", misFps,
        "refcount rows outside their frozen fp-hash directory"),
      f("winnow", "sidecar_bucketing", misSide,
        "attribution rows outside their frozen id-hash directory"))
  }

  // ------------------------------------------------------------------ nb

  private def nbChecks(spark: SparkSession, path: String): Seq[Finding] = {
    val model = spark.read.parquet(s"$path/model")
    val base = spark.read.parquet(s"$path/base")
    val side = spark.read.parquet(s"$path/docs")
    val idCol = side.columns.filterNot(Set("dbucket")).head
    val docB = Classify.nbLayoutAt(spark, path)
    // weights re-derive bit-for-bit from the store's own integer counts
    // through the shared training expressions — any drift means a
    // mutation corrupted exactly the numbers unlearning depends on
    val modelDrift = diff(model,
      Classify.modelFromCounts(
        model.select(col("label"), col("term"), col("cnt"))))
    val baseDrift = diff(base,
      Classify.baseFromCounts(
        model.select(col("label"), col("term"), col("cnt")),
        base.select(col("label"), col("nd"))))
    // Σ nd ≡ membership sidecar: the sidecar is what makes unlearning
    // exact and idempotent, so a count gap means silently unforgettable
    // (or doubly-forgettable) train docs
    val nd = base.agg(coalesce(sum(col("nd")), lit(0L))).head().getLong(0)
    val members = side.count()
    val misSide = side.filter(col("dbucket") =!=
      pmod(xxhash64(col(idCol)), lit(docB)).cast("int")).count()
    Seq(
      f("nb", "model_rederivation", modelDrift,
        "model rows not re-derivable from their own counts"),
      f("nb", "base_rederivation", baseDrift,
        "base rows not re-derivable from the model counts"),
      Finding("nb", "membership_vs_nd", nd == members,
        s"base Σnd = $nd vs sidecar members = $members"),
      f("nb", "sidecar_bucketing", misSide,
        "sidecar rows outside their frozen id-hash directory"))
  }

  // ------------------------------------------------------------- ivf/pq2

  /** The store's id column, derived from the `_graft_ids` sidecar's own
    * schema (the column that is not home/ibucket) — the store side can't
    * decide it alone once meta columns ride along (a non-array metadata
    * column is indistinguishable from the id there). Falls back to the
    * first non-array, non-centroid store column on sidecar-less stores.
    */
  private def idColOf(spark: SparkSession, path: String,
                      store: DataFrame): String =
    Similarity.storeIdColumnAt(spark, path).getOrElse(
      store.columns.filterNot(c => c == "centroid_id" ||
        store.schema(c).dataType
          .isInstanceOf[org.apache.spark.sql.types.ArrayType]).head)

  private def sidecarFindings(spark: SparkSession, path: String,
                              layout: String, store: DataFrame,
                              idCol: String): Seq[Finding] = {
    if (!Layout.exists(spark, s"$path/_graft_ids"))
      return Seq(Finding(layout, "erasure_sidecar", ok = false,
        "no _graft_ids sidecar — erasure would need a full-store scan"))
    val side = Layout.readTable(spark, s"$path/_graft_ids")
    // the sidecar mirrors the store's (id, home directory) pairs exactly:
    // a missing row hides a vector from erasure, a stale home compacts
    // the wrong directory
    val drift = diff(
      side.select(col(idCol), col("home").cast("int").as("home")),
      store.select(col(idCol), col("centroid_id").cast("int").as("home")))
    Seq(f(layout, "erasure_sidecar", drift,
      "(id, home) pairs disagreeing between store and _graft_ids"))
  }

  private def dirFindings(layout: String, store: DataFrame,
                          named: Set[Int]): Seq[Finding] = {
    val dirs = store.select(col("centroid_id").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSet
    val unnamed = dirs -- named
    Seq(Finding(layout, "codebook_names_directories", unnamed.isEmpty,
      if (unnamed.isEmpty)
        s"${dirs.size} directories, all codebook-named"
      else s"directories no codebook entry names: " +
        unnamed.toSeq.sorted.mkString(",") + " — probes can never reach them"))
  }

  private def ivfChecks(spark: SparkSession, path: String): Seq[Finding] = {
    val store = spark.read.parquet(path)
    val idCol = idColOf(spark, path, store)
    val named = Similarity.readAnyCodebookAt(spark, path) match {
      case Left(coarse) => coarse.indices.toSet
      case Right(cb) => cb.gids.flatten.toSet
    }
    dirFindings("ivf", store, named) ++
      sidecarFindings(spark, path, "ivf", store, idCol)
  }

  private def pq2Checks(spark: SparkSession, path: String): Seq[Finding] = {
    val store = spark.read.parquet(path)
    val idCol = idColOf(spark, path, store)
    val (cb, _) = Similarity.readPq2CodebooksAt(spark, path)
    val base = dirFindings("pq2-codes", store, cb.gids.flatten.toSet) ++
      sidecarFindings(spark, path, "pq2-codes", store, idCol)
    // the rerank linkage: recorded → must be reachable AND hold an exact
    // vector for EVERY stored code (a code whose vector is gone silently
    // vanishes at re-rank; an extra vector is a harmless orphan)
    val rerank = Similarity.rerankLinkAt(spark, path) match {
      case None => Seq(Finding("pq2-codes", "rerank_linkage", ok = true,
        "pre-record store (no linkage) — pair rerank_store_path manually"))
      case Some(None) => Seq(Finding("pq2-codes", "rerank_linkage",
        ok = true, "store records NO rerank sidecar (ADC-only layout)"))
      case Some(Some(rp)) =>
        if (!Similarity.vectorStoreExistsAt(spark, rp))
          Seq(Finding("pq2-codes", "rerank_linkage", ok = false,
            s"recorded rerank sidecar $rp is not a readable vector store"))
        else {
          val vec = spark.read.parquet(rp)
          val codeless = store.select(col(idCol))
            .join(vec.select(col(idCol)), Seq(idCol), "left_anti").count()
          Seq(Finding("pq2-codes", "rerank_linkage", ok = true,
            s"recorded sidecar $rp reachable"),
            f("pq2-codes", "rerank_coverage", codeless,
              "stored codes with no exact vector in the rerank sidecar"))
        }
    }
    base ++ rerank
  }

  // -------------------------------------------------------------- vector

  private def vectorChecks(spark: SparkSession,
                           path: String): Seq[Finding] = {
    val (store, parts) = Similarity.readVectorStore(spark, path)
    val idCol = store.columns.filterNot(c => c == "vs_part" ||
      store.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]).head
    val mis = store.filter(col("vs_part") =!=
      pmod(col(idCol), lit(parts)).cast("int")).count()
    Seq(f("vector", "id_partitioning", mis,
      "rows outside the directory pmod(id, parts) derives"))
  }
}
