package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SortedOverlapCount, TermCounts}
import graft.operators.{Classify, Dedup, Fsck, Layout, Retrieval, TextAnalysis}
import graft.processors.CurationProcessors.NearDupGate

/** The map-side term-count kernel against the group-by spelling it
  * replaced: every tf consumer (postings, inline BM25 and BM25F, NB
  * prediction) returns the rows the reference spelling returns, and
  * stores the reference spelling built keep taking batches.
  */
class TermCountsSpec extends SparkSpec {
  import spark.implicits._

  // zero-token, whitespace-only and null texts; repeated and non-ASCII
  // tokens; docs short enough to have no body field and long enough to
  // have one (the title window is 8 tokens)
  private val base = Seq[(Long, String)](
    (1L, "spark shuffle join spark"),
    (2L, "Spark spark SPARK shuffle naïve naïve 日本 日本 日本"),
    (3L, ""),
    (4L, null),
    (5L, " \t\n "),
    (6L, "a b c d e f g h spark i j spark k"),
    (7L, "gradient descent optimizer gradient"),
    (8L, "the the the the the the the the the the join"))
  private val batch = Seq[(Long, String)](
    (20L, "spark join join ß ß"),
    (21L, null),
    (22L, "a a a a a a a a a a a a shuffle"),
    (23L, "   "))
  private def docs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
  private val queries =
    Seq((100L, "spark join"), (101L, "naïve 日本"), (102L, "the a")).toDF("q_id", "qt")

  private def tokens(textCol: String) =
    TextAnalysis.tokens(lower(trim(col(textCol))))

  // ---- the reference spelling: explode, group by (id, term), dl by id ----

  private def refPostings(corpus: DataFrame): DataFrame = {
    val tf = corpus.select(col("doc_id"), explode(tokens("text")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    tf.join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
  }

  private def refFieldedPostings(corpus: DataFrame): DataFrame = {
    val tf = corpus.select(col("doc_id"),
        posexplode(tokens("text")).as(Seq("__p", "term")))
      .select(col("doc_id"),
        when(col("__p") < 8, lit("t")).otherwise(lit("b")).as("f"),
        col("term"))
      .groupBy(col("doc_id"), col("f"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dlf = tf.groupBy(col("doc_id"), col("f")).agg(sum(col("tf")).as("dl"))
    tf.join(dlf, Seq("doc_id", "f"))
      .select(col("doc_id"), col("f"), col("term"), col("tf"), col("dl"))
  }

  private def refFieldedStats(corpus: DataFrame,
                              postings: DataFrame): DataFrame =
    postings.groupBy(col("f")).agg(sum(col("tf")).as("tot_f"))
      .crossJoin(corpus.agg(count(lit(1)).as("n_docs")))
      .select(col("f"), col("n_docs"), col("tot_f"))

  private def refNbPredict(test: DataFrame, model: DataFrame,
                           base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = test.select(col("doc_id"), explode(tokens("text")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val lift = tf.join(broadcast(model.select(col("label"), col("term"),
        col("w"))), Seq("term"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("tf") * col("w")).as("lift"))
    val nTok = test.select(col("doc_id"),
      TextAnalysis.tokenCount(lower(trim(col("text")))).cast("bigint")
        .as("n_tok"))
    val scored = nTok.crossJoin(broadcast(base))
      .join(lift, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (col("prior") + col("n_tok") * col("def_w") +
          coalesce(col("lift"), lit(0L))).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score"), asc("label"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("doc_id"), col("label").as("pred"), col("score"))
  }

  /** A BM25 store as the group-by spelling wrote it: term-bucketed
    * postings, df, the id sidecar (each doc's distinct postings buckets
    * by group-by and outer join), the frozen bucket count and stats. */
  private def refBuild(corpus: DataFrame, path: String, buckets: Int,
                       fielded: Boolean): Unit = {
    val post = if (fielded) refFieldedPostings(corpus) else refPostings(corpus)
    def termBucket = pmod(xxhash64(col("term")), lit(buckets)).cast("int")
    post.withColumn("bucket", termBucket)
      .repartition(buckets, col("bucket"))
      .sortWithinPartitions(col("bucket"), col("term"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/postings")
    if (!fielded)
      Retrieval.dfreqOf(post).write.mode("overwrite").parquet(s"$path/dfreq")
    val tb = post.select(col("doc_id"), termBucket.as("__tb"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("__tb"))).as("tbuckets"))
    corpus.select(col("doc_id"))
      .join(tb, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("tbuckets"), array().cast("array<int>")).as("tbuckets"))
      .withColumn("dbucket",
        pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
      .write.mode("overwrite").partitionBy("dbucket").parquet(s"$path/docs")
    Layout.writeRecord(Seq(buckets).toDF("buckets"), s"$path/_graft_layout")
    val stats =
      if (fielded) refFieldedStats(corpus, post)
      else Retrieval.corpusStats(corpus, post)
    stats.coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Every table of a store, as sorted row strings (the physical bucket
    * partition columns included). */
  private def storeRows(path: String, fielded: Boolean): Seq[Seq[String]] =
    (Seq("postings", "docs", "stats") ++ (if (fielded) Nil else Seq("dfreq")))
      .map(t => sortedRows(spark.read.parquet(s"$path/$t")))

  private def fresh(name: String): String =
    Files.createTempDirectory(name).resolve("bm25").toString

  test("postingsRaw equals the group-by spelling, columns and types included") {
    val corpus = docs(base ++ batch)
    val got = Retrieval.postingsRaw(corpus, "doc_id", "text")
    val ref = refPostings(corpus)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType))
    assert(got.columns.toSeq == Seq("doc_id", "term", "tf", "dl"))
    assert(sortedRows(got) == sortedRows(ref))
    // zero-token and null-text docs yield no postings
    assert(got.filter(col("doc_id").isin(3L, 4L, 5L, 21L, 23L)).isEmpty)
  }

  test("bm25TopK and bm25fTopK equal scoring the group-by statistics") {
    val corpus = docs(base ++ batch)
    val refP = refPostings(corpus)
    val plainRef = Retrieval.bm25TopKStored(
      Retrieval.Bm25Store(refP, Retrieval.dfreqOf(refP),
        Retrieval.corpusStats(corpus, refP)),
      queries, "doc_id", "q_id", "qt")
    val plain = Retrieval.bm25TopK(corpus, queries, "doc_id", "text",
      "q_id", "qt")
    assert(plain.count() > 0)
    assert(sortedRows(plain) == sortedRows(plainRef))
    val refF = refFieldedPostings(corpus)
    val fieldedRef = Retrieval.bm25fTopKStored(
      Retrieval.Bm25fStore(refF, refFieldedStats(corpus, refF)),
      queries, "doc_id", "q_id", "qt")
    val fielded = Retrieval.bm25fTopK(corpus, queries, "doc_id", "text",
      "q_id", "qt")
    assert(fielded.count() > 0)
    assert(sortedRows(fielded) == sortedRows(fieldedRef))
  }

  test("nbPredict equals the group-by spelling") {
    val train = Seq((1L, "spark shuffle join", "eng"),
      (2L, "naïve 日本 日本", "intl"), (3L, "gradient spark", "eng"),
      (4L, "ß ß naïve", "intl")).toDF("doc_id", "text", "lang")
    val model = Classify.nbModel(train, "text", "lang")
    val nbBase = Classify.nbClassBase(train, "doc_id", "text", "lang")
    val test = docs(base ++ batch)
    val got = Classify.nbPredict(test, model, nbBase, "doc_id", "text")
    assert(got.count() == (base ++ batch).size)
    assert(sortedRows(got) == sortedRows(refNbPredict(test, model, nbBase)))
  }

  test("the builds write the rows the group-by spelling wrote") {
    for (fielded <- Seq(false, true)) {
      val ours = fresh("tcbuild")
      val ref = fresh("tcbuildref")
      val corpus = docs(base)
      if (fielded) Retrieval.writeBm25fStore(corpus, "doc_id", "text", ours,
        buckets = 4)
      else Retrieval.writeBm25Store(corpus, "doc_id", "text", ours,
        buckets = 4)
      refBuild(corpus, ref, 4, fielded)
      assert(storeRows(ours, fielded) == storeRows(ref, fielded),
        s"fielded=$fielded")
    }
  }

  test("stores the group-by spelling built take a batch, equal a rebuild " +
      "and fsck clean") {
    for (fielded <- Seq(false, true)) {
      val path = fresh("tcmerge")
      refBuild(docs(base), path, 4, fielded)
      val n = Retrieval.mergeBm25StoreAt(spark, path, docs(batch), "doc_id",
        "text", buckets = 4, fielded = fielded)
      assert(n == batch.size.toLong)
      val rebuilt = fresh("tcrebuild")
      refBuild(docs(base ++ batch), rebuilt, 4, fielded)
      assert(storeRows(path, fielded) == storeRows(rebuilt, fielded),
        s"fielded=$fielded")
      val bad = Fsck.audit(spark, path).filterNot(_.ok)
      assert(bad.isEmpty, bad.mkString("; "))
      // the merged sidecar still prunes a forget to the right buckets
      Retrieval.forgetBm25StoreAt(spark, path, Seq(2L, 20L).toDF("doc_id"),
        "doc_id")
      val survivors = fresh("tcsurvivors")
      refBuild(docs((base ++ batch).filterNot(d => d._1 == 2L || d._1 == 20L)),
        survivors, 4, fielded)
      assert(storeRows(path, fielded) == storeRows(survivors, fielded),
        s"fielded=$fielded")
    }
  }

  test("the kernels refuse arrays that admit null elements at analysis time") {
    val nullable = Seq(Tuple1(Seq("a", null))).toDF("tk")
    assert(nullable.schema("tk").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    val e1 = intercept[AnalysisException](
      nullable.select(TermCounts(col("tk"))).collect())
    assert(e1.getMessage.contains("term_counts") &&
      e1.getMessage.contains("array<string> with nullable elements"),
      e1.getMessage)
    val e2 = intercept[AnalysisException](
      nullable.select(SortedOverlapCount(col("tk"), col("tk"))).collect())
    assert(e2.getMessage.contains("sorted_overlap_count") &&
      e2.getMessage.contains("array<string> with nullable elements"),
      e2.getMessage)
    // the tokenizers' arrays carry non-null elements and pass
    val ok = Seq(Tuple1("b a b")).toDF("t")
      .select(TermCounts(tokens("t")).as("c"),
        SortedOverlapCount(sort_array(tokens("t")), sort_array(tokens("t")))
          .as("o"))
      .collect()(0)
    assert(ok.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)) == Seq("b" -> 2L, "a" -> 1L))
    assert(ok.getLong(1) == 3L)
  }

  test("neardup-gate signs its batch once and appends the survivors' bands") {
    val idx = Files.createTempDirectory("tcnidx").resolve("lsh").toString
    val original = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    NearDupGate.process(Seq((1L, original)).toDF("doc_id", "text"),
      Map("index_path" -> idx)).count()
    val before = sortedRows(spark.read.parquet(idx))
    val incoming = Seq((2L, original.replace("omicron", "edited")),
      (3L, "entirely different content about distributed query engines " +
        "and columnar storage formats"),
      (4L, "two words")).toDF("doc_id", "text")
    val survivors = NearDupGate.process(incoming, Map("index_path" -> idx))
    assert(survivors.select("doc_id").as[Long].collect().toSet == Set(3L, 4L))
    val after = spark.read.parquet(idx).collect().map(_.toString).toSeq
    val appended = after.diff(before).sorted
    val expected = sortedRows(Dedup.portableBands(
      Dedup.portableMinhash(survivors, "doc_id", "text", 8), "doc_id", 8, 4))
    assert(appended.nonEmpty && appended == expected)
  }
}
