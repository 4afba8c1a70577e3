package graft

import org.apache.spark.sql.functions._
import graft.operators._

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  test("profile computes min/max/avg/median/distinct/count in one pass") {
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("x")
    val row = ColumnProfiler.profile(df, Seq("x"), exactMedian = true,
      exactDistinct = true).collect()(0)
    assert(row.getAs[Double]("x_min") == 1.0)
    assert(row.getAs[Double]("x_max") == 100.0)
    assert(row.getAs[Double]("x_avg") == 22.0)
    assert(row.getAs[Double]("x_med") == 3.0)
    assert(row.getAs[Long]("x_unique") == 5L)
    assert(row.getAs[Long]("x_count") == 5L)
  }

  test("top1 breaks ties on value") {
    val df = Seq("b", "a", "b", "a", "c").toDF("v")
    val row = ColumnProfiler.top1(df, "v").collect()(0)
    assert(row.getAs[String]("value") == "a") // a and b tie at 2; a < b
    assert(row.getAs[Long]("cnt") == 2L)
  }

  test("approx percentile tracks exact within 1% — the 100 TB quantile path") {
    // q_value_quantiles' documented scale path: percentile_approx (one-pass
    // mergeable sketch) must stay close to the exact aggregate it replaces
    val ev = Tables(spark, "/root/testdata/sf0.01", "events")
    val row = ev.agg(
      expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D))").as("ex"),
      expr("percentile_approx(value, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)").as("ap"))
      .collect()(0)
    val ex = row.getSeq[Double](0)
    val ap = row.getSeq[Double](1)
    ex.zip(ap).foreach { case (e, a) =>
      assert(math.abs(a - e) <= 0.01 * math.abs(e) + 1e-9, s"exact=$e approx=$a")
    }
  }
}

class UsageStatsSpec extends SparkSpec {
  import spark.implicits._

  test("coOccurrence counts unordered pairs per group once") {
    val df = Seq((1, "t1"), (1, "t2"), (1, "t2"), (2, "t1"), (2, "t2"), (3, "t1"))
      .toDF("qid", "tbl")
    val pairs = UsageStats.coOccurrence(df, "qid", "tbl").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[String]("a") == "t1")
    assert(pairs(0).getAs[String]("b") == "t2")
    assert(pairs(0).getAs[Long]("pair_count") == 2L)
  }

  test("coOccurrence cap drops oversized groups and the observe audit reports it") {
    // group 1 has 4 entities (dropped by cap=3), group 2 has 2 (kept)
    val df = Seq((1, "a"), (1, "b"), (1, "c"), (1, "d"), (2, "x"), (2, "y"))
      .toDF("qid", "tbl")
    val obs = new org.apache.spark.sql.Observation("co_occurrence_drops")
    val pairs = UsageStats.coOccurrence(df, "qid", "tbl",
      maxGroupSize = 3, dropAudit = Some(obs)).collect()
    assert(pairs.map(r => (r.getString(0), r.getString(1))).toSet == Set(("x", "y")))
    val m = obs.get
    assert(m("dropped_groups") == 1L, s"audit metrics: $m")
    assert(m("max_group_size") == 4, s"audit metrics: $m")
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("slidingChunks: coverage, overlap, truncation and the empty-doc edge") {
    import org.apache.spark.sql.functions._
    val doc23 = (1 to 23).map(i => s"w$i").mkString(" ")
    val doc5 = "a b c d e"
    val docs = Seq((1L, doc23), (2L, doc5), (3L, "   ")).toDF("doc_id", "text")
    val rows = TextAnalysis.slidingChunks(docs, "doc_id", "text",
        size = 16, stride = 8)
      .orderBy(col("doc_id"), col("chunk_id")).collect()
    // doc 1 (23 tokens): k stops once the window covers the doc end —
    // 1 + ceil((23-16)/8) = 2 chunks; the second truncates at token 23
    val d1 = rows.filter(_.getLong(0) == 1L)
    assert(d1.length == 2)
    assert(d1(0).getInt(1) == 0 && d1(0).getInt(2) == 1 && d1(0).getInt(3) == 16)
    assert(d1(1).getInt(1) == 1 && d1(1).getInt(2) == 9 && d1(1).getInt(3) == 15)
    assert(d1(1).getString(4) == (9 to 23).map(i => s"w$i").mkString(" "))
    // overlap: tokens 9..16 appear in both chunks
    assert(d1(0).getString(4).endsWith("w9 w10 w11 w12 w13 w14 w15 w16"))
    // short doc: one whole-doc chunk; whitespace-only doc: no rows
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getString(4) == "a b c d e")
    assert(!rows.exists(_.getLong(0) == 3L))
    // stride == size degenerates to a lossless non-overlapping split
    val split = TextAnalysis.slidingChunks(docs.filter(col("doc_id") === 1),
        "doc_id", "text", size = 8, stride = 8)
      .orderBy(col("chunk_id")).collect()
    assert(split.map(_.getString(4)).mkString(" ") == doc23)
  }

  test("adaptiveQualityGate: each source drops its own bottom quarter by rank") {
    import org.apache.spark.sql.functions._
    def doc(n: Int) = (1 to n).map(_ => "tok").mkString(" ")
    val docs = Seq(
      (1L, "a", doc(10)), (2L, "a", doc(20)), (3L, "a", doc(30)), (4L, "a", doc(40)),
      (5L, "b", doc(5)), (6L, "b", doc(50))).toDF("doc_id", "source", "text")
    val kept = TextAnalysis.adaptiveQualityGate(docs, "doc_id", "source", "text")
      .select("doc_id").as[Long].collect().toSet
    // source a: m=4, floor(1)=1 -> rank-1 doc (10 tokens) dropped;
    // source b: m=2, floor(0.5)=0 -> both survive despite doc 5 being
    // far below source a's bar — the per-source calibration the gate is for
    assert(kept == Set(2L, 3L, 4L, 5L, 6L), kept)
  }

  test("adaptiveQualityGate: NULL text ranks as 0 tokens (worst), not NULL") {
    import org.apache.spark.sql.functions._
    def doc(n: Int) = (1 to n).map(_ => "tok").mkString(" ")
    // Spark sorts NULLs first ascending, DuckDB last — an un-coalesced
    // NULL n_tokens would rank 1 here in Spark but m in DuckDB. With the
    // coalesce, the NULL doc is the 0-token WORST doc in both engines:
    // m=4 -> rank 1 (the null doc) dropped, all real docs survive.
    val docs = Seq(
      (1L, "a", null.asInstanceOf[String]), (2L, "a", doc(20)),
      (3L, "a", doc(30)), (4L, "a", doc(40))).toDF("doc_id", "source", "text")
    val out = TextAnalysis.adaptiveQualityGate(docs, "doc_id", "source", "text")
      .collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
    assert(out.forall(!_.isNullAt(2)), "n_tokens must never be NULL")
  }

  test("CDC chunking: boundaries are content-defined — an insert only disturbs its own chunk") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val base = (0 until 2000).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // insert one char near the front: every chunk fingerprint after the
    // first post-edit boundary must survive (fixed-size chunking would
    // shift every later chunk); chunk COUNT stays within ±2
    val edited = base.substring(0, 5) + "X" + base.substring(5)
    val docs = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val fps = TextAnalysis.cdcChunks(docs, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getString(3))).toSeq).toMap
    val a = fps(1L).map(_._3).toSet
    val b = fps(2L).map(_._3).toSet
    val shared = (a & b).size
    assert(shared >= a.size - 3,
      s"insert disturbed ${a.size - shared} of ${a.size} chunks — not content-defined")
    assert(math.abs(fps(1L).size - fps(2L).size) <= 2)
    // segments tile the doc exactly: starts/lens are contiguous from 0
    val segs = fps(1L).sortBy(_._1)
    assert(segs.head._1 == 0L && segs.map(_._2).sum == base.length)
    segs.sliding(2).foreach { case Seq((s1, l1, _), (s2, _, _)) =>
      assert(s1 + l1 == s2)
    case _ => }
    // stats view agrees with the exploded view
    val st = TextAnalysis.cdcChunkStats(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st(1L) == fps(1L).size.toLong && st(2L) == fps(2L).size.toLong)
    // empty docs: zero chunks, null-safe
    val empty = TextAnalysis.cdcChunkStats(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(empty.getLong(1) == 0L)
  }

  test("htmlText strips blocks/tags, decodes entities, collapses whitespace") {
    val cases = Seq(
      (1L, "<p>hello <b>world</b></p>"),
      // script body without '<' drops entirely (incl. attributes)
      (2L, "a<script type=\"x\">var y = 1 && 2;</script>b"),
      // style block, comment with inner dashes, self-closing tag
      (3L, "<style>p{x:1}</style>x<!-- a - b -->y<br/>z"),
      // entity order: &amp;lt; must yield literal '&lt;', not '<'
      (4L, "1 &lt; 2 &amp;&amp; 3 &gt; 2; say &quot;hi&quot; &#39;now&#39;&nbsp;ok &amp;lt;"),
      // whitespace runs (incl. newlines/tabs) collapse; outer trim
      (5L, "  a\n\n\tb   c  "),
      // documented RE2 limit: '<' INSIDE a script body ends the [^<]* run,
      // so the tail survives until the tag strip eats the '<tags>' in it
      (6L, "<script>if (a<b) x();</script>done"))
      .toDF("doc_id", "html")
    val out = cases.select(col("doc_id"),
        TextAnalysis.htmlText(col("html")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "hello world")
    assert(out(2L) == "a b")
    assert(out(3L) == "x y z")
    assert(out(4L) == "1 < 2 && 3 > 2; say \"hi\" 'now' ok &lt;")
    assert(out(5L) == "a b c")
    assert(out(6L) == "if (a done") // tail 'b) x();' eaten as a pseudo-tag
  }

  test("extractHtml reports tag count and markup ratio") {
    val df = Seq((7L, "<p>ab</p>")).toDF("doc_id", "html")
    val r = TextAnalysis.extractHtml(df, "doc_id", "html").collect().head
    assert(r.getString(1) == "ab")
    assert(r.getInt(2) == 2)
    // 9 chars total, 2 visible -> (9-2)/9
    assert(math.abs(r.getDouble(3) - math.round(7.0 / 9.0 * 1e4) / 1e4) < 1e-12)
  }

  test("bigram LM familiarity: integer hits and mass against the top-K vocab") {
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: "a b","b a","a b","b c"
      (2L, "a b x y"),   // "a b","b x","x y"
      (3L, "z z"),       // "z z"
      (4L, "solo"))      // no bigrams -> absent from output
      .toDF("doc_id", "text")
    // corpus counts: "a b"->3, rest 1 each; vocabSize=2 keeps "a b" and
    // (tie on c=1, bigram asc) "b a"
    val out = TextAnalysis.lmFamiliarity(docs, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(
      1L -> ((4L, 3L, 7L)),  // hits: a b, b a, a b; mass 3+1+3
      2L -> ((3L, 1L, 3L)),
      3L -> ((1L, 0L, 0L))))
    // a pre-trained vocab skips the count pass and scores identically
    val v = Seq(("a b", 3L), ("b a", 1L)).toDF("bigram", "c")
    val pre = TextAnalysis.lmFamiliarity(docs, "doc_id", "text", vocab = Some(v))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(pre == out)
  }

  test("chunking: stride windows, kept partial tail, no fully-contained tails") {
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    val df = Seq(
      (1L, toks(3)),   // shorter than one chunk -> 1 chunk of 3
      (2L, toks(20)),  // exactly one chunk
      (3L, toks(21)),  // 2 chunks: 1-20, 16-21 (tail of 6)
      (4L, toks(35)),  // 2 chunks: 1-20, 16-35 (second reaches the end)
      (5L, toks(36)),  // 3 chunks: 1-20, 16-35, 31-36
      (6L, ""))        // no tokens -> no chunks
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text", chunkTokens = 20, stride = 15)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getString(3))).toSeq)
      .toMap
    assert(out(1L) == Seq((3L, "t1 t2 t3")))
    assert(out(2L).map(_._1) == Seq(20L))
    assert(out(3L).map(_._1) == Seq(20L, 6L))
    assert(out(3L)(1)._2 == (16 to 21).map(i => s"t$i").mkString(" "))
    assert(out(4L).map(_._1) == Seq(20L, 20L))
    assert(out(5L).map(_._1) == Seq(20L, 20L, 6L))
    assert(!out.contains(6L))
    // overlap: consecutive chunks share chunkTokens - stride = 5 tokens
    assert(out(5L)(1)._2.split(" ").take(5).toSeq ==
      out(5L)(0)._2.split(" ").takeRight(5).toSeq)
  }

  test("fused tokenStats kernel matches the higher-order spelling exactly") {
    // adversarial inputs: empty, whitespace-only, case variants of
    // stopwords/markers, supplementary-plane chars (code points != UTF-16
    // units), every Java \s whitespace class, long repeats
    val docs = Seq("", "   ", "The the THE tHe is Is", "der die und le la et el los y",
      "ünïcode tökens 𝔘𝔫𝔦 mix",
      "a\tb\ncd\fe\rf", ("of " * 40).trim, "x").toDF("text")
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    def fround(c: org.apache.spark.sql.Column, p: Int) =
      org.apache.spark.sql.functions.round(c, p)
    val fused = docs.select(Seq(TextAnalysis.tokenStats(col("text")).as("ts")): _*)
      .select(Seq(col("ts.n_tokens"), col("ts.n_subwords"),
        fround(when(col("ts.n_tokens") === 0, 0.0)
          .otherwise(col("ts.sum_len").cast("double") / col("ts.n_tokens")), 4),
        fround(when(col("ts.n_tokens") === 0, 0.0)
          .otherwise(col("ts.stop_hits").cast("double") / col("ts.n_tokens")), 4)) ++
        TextAnalysis.langScoresFromStats(col("ts")).map(_._2): _*)
      .collect().map(_.toSeq)
    val hof = docs.select(Seq(
        TextAnalysis.tokenCount(col("text")),
        TextAnalysis.bpeishTokenCount(col("text")),
        fround(TextAnalysis.meanTokenLength(col("text")), 4),
        fround(TextAnalysis.stopwordRatio(col("text")), 4)) ++
        TextAnalysis.langScores(col("text")).map(_._2): _*)
      .collect().map(_.toSeq)
    assert(fused.toSeq == hof.toSeq)
    assert(langs.size == 4) // marker_hits alignment assumption
  }

  test("chunking preserves case — training text is never case-folded") {
    val df = Seq((1L, "The Quick  BROWN fox")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text", 20, 15).collect()
    assert(out.map(_.getString(3)).toSeq == Seq("The Quick BROWN fox"))
  }

  test("token count ignores extra whitespace; empty is zero") {
    val df = Seq("  the quick   fox ", "", "one").toDF("t")
    val out = df.select(TextAnalysis.tokenCount(col("t")).as("n"))
      .collect().map(_.getAs[Int]("n")).toSeq
    assert(out == Seq(3, 0, 1))
  }

  test("fingerprint is whitespace/case canonical") {
    val df = Seq(("A  b\tC", 1), ("a b c", 2), ("abc", 3)).toDF("t", "id")
    val fps = df.select(TextAnalysis.fingerprint(col("t")).as("fp"))
      .collect().map(_.getString(0)).toSeq
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("quality columns compute stopword and punct ratios") {
    val df = Seq("the cat, the hat").toDF("text")
    val row = TextAnalysis.quality(df.withColumn("doc_id", lit(1)), "text",
      Seq("doc_id")).collect()(0)
    assert(row.getAs[Int]("n_tokens") == 4)
    assert(row.getAs[Double]("stopword_ratio") == 0.5)
    assert(row.getAs[Double]("punct_ratio") == round(1.0 / 16, 4))
  }

  test("gopher rules: integer rule inputs and the composed keep verdict") {
    // "the cat sat on the mat the cat": 8 tokens, sum_len 23, mwl_x100 =
    // 287 (< 300 -> mean-word-length rule fails), stop_hits 4 ("the" x3 +
    // "on"), top bigram "the cat" x2 of 7 windows
    val df = Seq(
      (1L, "the cat sat on the mat the cat"),
      // passes every rule at minTokens=5: 8 tokens, mwl 562, two
      // stopwords, all 7 bigrams distinct (1000 <= 180*7)
      (2L, "the spark engine and catalyst optimizer compile fast"),
      // top-bigram repetition: "go go" dominates -> repetition rule fails
      (3L, "go go go go go and the rest")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, "doc_id", "text", minTokens = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 8)
    assert(out(0).getAs[Long]("mwl_x100") == 287) // 23*100 div 8
    assert(out(0).getAs[Long]("stop_hits") == 4)
    assert(out(0).getAs[Long]("top_bigram_n") == 2)
    assert(!out(0).getAs[Boolean]("keep")) // mwl below 300
    assert(out(1).getAs[Boolean]("keep"))
    assert(out(2).getAs[Long]("top_bigram_n") == 4) // "go go" x4
    assert(!out(2).getAs[Boolean]("keep")) // 4*1000 > 180*7
  }

  private def round(d: Double, p: Int): Double = {
    val f = math.pow(10, p); math.round(d * f) / f
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 0
    (2L, "completely different text about spark catalyst optimizer internals"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical canonical text") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("keep_id") == 0L)
    assert(out(0).getAs[Long]("dup_count") == 2L)
  }

  test("minhash LSH finds planted near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      k = 32, bands = 16, shingleLen = 2, threshold = 0.5)
      .orderBy("a", "b").collect()
    val keys = pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(keys.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(keys.contains((0L, 1L)) || keys.contains((1L, 3L))) // near dup
    assert(!keys.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("simhash near-dup banding finds exact dups, excludes unrelated") {
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((0L, 3L))) // identical text -> hamming 0
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    val hashes = Dedup.simhash(docs, "doc_id", "text")
      .orderBy("id").collect().map(_.getAs[Long]("simhash"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(0), hashes(3)) == 0) // identical text
    assert(ham(hashes(0), hashes(1)) < ham(hashes(0), hashes(2)))
  }

  test("index forget: compaction equals rebuild, and forgetting a keeper reopens its slot") {
    // stored index covers keeper 0 and unrelated 2; the arriving batch is
    // doc 3, an exact dup of 0
    val corpus = docs.filter(col("doc_id").isin(0L, 2L))
    val index = Dedup.portableBands(
      Dedup.portableMinhash(corpus, "doc_id", "text", k = 8),
      "doc_id", k = 8, bands = 4)
    val batch = docs.filter(col("doc_id") === 3L)
    // with the keeper stored, its dup is gated out of ingest
    assert(Dedup.lshIngest(batch, index, "doc_id", "text").count() == 0)
    // keeper 0 files a deletion request: compact the index in place
    val compacted = Dedup.forgetDocs(index, Seq(0L).toDF("id"), "id")
    // compaction theorem: row-identical to a from-scratch rebuild over
    // the surviving corpus
    val rebuilt = Dedup.portableBands(
      Dedup.portableMinhash(corpus.filter(col("doc_id") =!= 0L),
        "doc_id", "text", k = 8), "doc_id", k = 8, bands = 4)
    assert(compacted.except(rebuilt).count() == 0 &&
      rebuilt.except(compacted).count() == 0)
    // the former dup now survives ingest — the content is genuinely
    // forgotten, not shadow-banned by a stale index row
    assert(Dedup.lshIngest(batch, compacted, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("line-dedup rewrite drops common lines in place, preserves order, drops emptied docs") {
    val df = Seq(
      (1L, "keep one\nboiler\nkeep two"),
      (2L, "boiler\nkeep three"),
      (3L, "boiler")).toDF("doc_id", "text")
    val out = Dedup.lineDedupRewrite(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // "boiler" is in 3 docs -> removed everywhere; remaining lines keep
    // their original order; doc 3 is left empty and disappears
    assert(out == Map(1L -> "keep one\nkeep two", 2L -> "keep three"))
  }

  test("containment verify flags subset-duplicates symmetric Jaccard misses") {
    val longText = ((1 to 40).map(i => s"body$i") ++
      Seq("quoted passage lives here")).mkString(" ")
    val two = Seq((1L, "quoted passage lives here"), (2L, longText))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val out = Dedup.verifyContainment(pairs, two, "doc_id", "text",
      threshold = 0.8).collect()
    // the short doc is FULLY contained: c_ab = 1.0 even though the long
    // side barely overlaps
    assert(out.length == 1)
    assert(out(0).getAs[Double]("c_ab") == 1.0)
    assert(out(0).getAs[Double]("c_ba") < 0.2)
    // symmetric Jaccard rejects the same pair at any useful threshold —
    // exactly the gap the asymmetric verify closes
    assert(Dedup.verifyJaccard(pairs, two, "doc_id", "text",
      threshold = 0.5).count() == 0)
  }

  test("contamination report: eval-side view agrees with the gate, keeps clean items at zero") {
    val train = Seq(
      (1L, "alpha beta gamma delta extra words here"), // shares the 4-gram
      (2L, "totally different training content")).toDF("doc_id", "text")
    val eval0 = Seq(
      (100L, "alpha beta gamma delta"),
      (200L, "pristine benchmark item nothing leaks")).toDF("doc_id", "text")
    val report = Dedup.contaminationReport(train, "doc_id", "text",
        eval0, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // burned item carries its witness count; the clean item is PRESENT at zero
    assert(report(100L) == ((1L, 1L)))
    assert(report(200L) == ((0L, 0L)))
    // the two views agree: the training docs the gate flags are exactly
    // the witnesses the report counts
    val flagged = Dedup.decontaminate(train, "doc_id", "text", eval0, "text", n = 4)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L))
  }

  test("snapshot diff classifies added/removed/changed and is canonicalization-invariant") {
    val v1 = Seq((1L, "Alpha beta"), (2L, "to be removed"), (3L, "same text"),
      (4L, "old body")).toDF("doc_id", "text")
    val v2 = Seq((1L, "  alpha   beta "), (3L, "same text"), (4L, "new body"),
      (5L, "fresh doc")).toDF("doc_id", "text")
    val d = Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // case/whitespace-only drift is NOT a change — the diff compares
    // canonical fingerprints, the same identity exact dedup uses
    assert(d == Map(1L -> "unchanged", 2L -> "removed", 3L -> "unchanged",
      4L -> "changed", 5L -> "added"))
  }

  test("connected components labels chains, triangles and isolated pairs") {
    // components: chain 1-2-3-4 (diameter forces >1 round), triangle
    // 10-11-12, isolated pair 20-21
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).toDF("a", "b")
    val labels = Dedup.connectedComponents(pairs).orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connected components contracts a 2^k chain in O(log n) rounds") {
    // worst-case diameter: a single path 0-1-2-...-255. Naive min-label
    // propagation needs diameter rounds (255); pointer jumping (path
    // halving) must land well inside O(log n).
    val n = 256
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds, converged) = Dedup.connectedComponentsWithStats(chain, maxIter = 20)
    assert(converged, s"chain of $n did not converge in 20 rounds")
    assert(rounds <= 2 * (64 - java.lang.Long.numberOfLeadingZeros(n - 1L)) + 2,
      s"pointer jumping took $rounds rounds for a $n-chain — O(log n) bound broken")
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == n && out.values.forall(_ == 0L))
  }

  test("connected components throws loudly on non-fixpoint exit") {
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("fuzzyDedup keeps one representative per near-dup cluster, both CC algorithms") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val docs = Seq(
      (1L, base),                                   // near-dup cluster {1,2,3}
      (2L, base + " indeed"),                       // longest → the keeper
      (3L, base.replace("lazy", "sleepy")),
      (10L, "a completely different document about spark catalyst optimizer internals"),
      (11L, "yet another unique text concerning duckdb oracle comparisons")).toDF("doc_id", "text")
    for (alg <- Seq("minlabel", "largestar")) {
      val kept = Dedup.fuzzyDedup(docs, "doc_id", "text",
          threshold = 0.5, ccAlgorithm = alg)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 10L, 11L), s"ccAlgorithm=$alg: $kept")
    }
    intercept[IllegalArgumentException] {
      Dedup.fuzzyDedup(docs, "doc_id", "text", ccAlgorithm = "nope").collect()
    }
  }

  test("decontamination flags docs sharing n-grams with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated content with no overlap at all here"),
      (3L, "quick brown fox jumps somewhere else entirely today")).toDF("id", "text")
    val eval = Seq((100L, "we ask about the quick brown fox jumps question"))
      .toDF("id", "text")
    val out = Dedup.decontaminate(train, "id", "text", eval, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox" + "quick brown fox jumps";
    // doc 3 shares one; doc 2 is clean and absent
    assert(out == Map(1L -> 2L, 3L -> 1L))
  }

  test("bloom decontamination: no false negatives vs exact, fully map-side") {
    // the scale-path guarantee on real driver testdata: every doc the
    // exact operator flags is bloom-flagged with at least as many hits
    // (a contaminated doc NEVER slips through; fpp only over-flags)
    val d = Tables(spark, "/root/testdata/sf0.01", "documents")
    val corpus = d.filter(col("doc_id") % 100 =!= 0)
    val eval = d.filter(col("doc_id") % 100 === 0)
    val exact = Dedup.decontaminate(corpus, "doc_id", "text", eval, "text", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomDf = Dedup.decontaminateBloom(corpus, "doc_id", "text",
      eval, "text", n = 4, expectedGrams = 100000L, fpp = 0.001)
    val bloom = bloomDf.collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    assert(exact.nonEmpty)
    exact.foreach { case (id, h) =>
      assert(bloom.contains(id), s"false negative: doc $id exact-flagged, not bloom-flagged")
      assert(bloom(id) >= h, s"doc $id bloom hits ${bloom(id)} < exact $h")
    }
    // at fpp=0.001 on this corpus the over-flagging stays a sliver
    assert(bloom.size - exact.size <= math.max(5, exact.size / 2),
      s"bloom=${bloom.size} exact=${exact.size}")
    // the corpus side never shuffles: scan → project(udf) → filter only
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)

    // and the verified composition is EXACTLY the exact operator's output
    // (bloom trims map-side, the verify join kills false positives)
    val verified = Dedup.decontaminateBloomVerified(corpus, "doc_id", "text",
        eval, "text", n = 4, expectedGrams = 100000L, fpp = 0.001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(verified == exact,
      s"verified-bloom diverged: only-verified=${verified.keySet -- exact.keySet} " +
        s"only-exact=${exact.keySet -- verified.keySet}")
  }

  test("boilerplate scores the fraction of cross-doc common n-grams") {
    // "legal notice all rights reserved" plants the 3-grams "legal notice
    // all", "notice all rights", "all rights reserved" in docs 1..3
    // (minDocs=3 → common); each doc's remaining grams are unique to it
    val footer = "legal notice all rights reserved"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta theta $footer"),
      (3L, s"iota kappa lambda mu $footer"),
      (4L, "nu xi omicron pi rho sigma tau")).toDF("doc_id", "text")
    val out = Dedup.boilerplate(docs, "doc_id", "text", n = 3, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // 9 tokens → 7 grams; 3 are the shared footer ("delta legal notice"
    // etc. straddle doc-specific words, so only the pure footer grams recur)
    assert(out(1L) == ((7L, 3L, 0.4286)))
    assert(out(2L) == ((7L, 3L, 0.4286)))
    assert(out(3L) == ((7L, 3L, 0.4286)))
    assert(out(4L) == ((5L, 0L, 0.0)))
  }

  test("large-star/small-star CC matches min-label CC on chains, stars and random graphs") {
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    // adversarial diameter: one long chain
    val chain = (0L until 255L).map(i => (i, i + 1)).toDF("a", "b")
    val chainLabels = labelsOf(Dedup.connectedComponentsLargeSmallStar(chain))
    assert(chainLabels.size == 256 && chainLabels.values.forall(_ == 0L))
    // mixed shapes + seeded random graph: must agree exactly with the
    // min-label/pointer-jumping implementation
    val rnd = new scala.util.Random(42)
    val randomPairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val allPairs = randomPairs ++ Seq((500L, 501L), (600L, 601L), (601L, 602L))
    val mixed = allPairs.toDF("a", "b")
    // independent plain-JVM union-find model: both Spark implementations
    // must match IT, not merely each other
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    allPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val model = parent.keys.map(k => k -> find(k)).toMap
    assert(labelsOf(Dedup.connectedComponents(mixed, maxIter = 30)) == model)
    assert(labelsOf(Dedup.connectedComponentsLargeSmallStar(mixed)) == model)
    // non-fixpoint exit is loud, same contract as the min-label variant
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsLargeSmallStar(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("incremental dedup drops known fingerprints and in-batch repeats") {
    val corpus = docs.filter(col("doc_id") < 2)
      .select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // = doc 0
      (11L, "genuinely new content that the corpus has never seen before"),
      (12L, "genuinely new content that the corpus has never seen before"), // in-batch dup
      (13L, "another fresh document entirely")).toDF("doc_id", "text")
    val out = Dedup.incremental(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(out == Seq(11L, 13L)) // 10 known, 12 loses to 11
  }

  test("lineDedupStats drops lines shared by >= minDocs distinct docs") {
    val d = Seq(
      (1L, "alpha\nshared footer"),
      (2L, "beta four\nshared footer"),
      (3L, "gamma\nshared footer\ngamma")).toDF("doc_id", "text")
    val out = Dedup.lineDedupStats(d, "doc_id", "text", minDocs = 2)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("kept_chars"))).toSeq
    // "shared footer" is in 3 distinct docs → dropped everywhere; doc 3's
    // repeated "gamma" counts ONE distinct doc, so both copies survive
    assert(out == Seq((1L, 2L, 1L, 5L), (2L, 2L, 1L, 9L), (3L, 3L, 2L, 10L)))
  }

  test("keepBest keeps the top-scoring member per cluster, ties to min id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (10L, 0.1), (11L, 0.1))
      .toDF("id", "q")
    val kept = Dedup.keepBest(labels, scores, "q").orderBy("cluster_id").collect()
    assert(kept.map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("keep_id"))).toSeq ==
      Seq((1L, 2L), (10L, 10L))) // 2 beats 3 on tie (smaller id), 0.9 beats 0.5
  }

  test("connected components of the minhash pair graph groups all dups") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      k = 32, bands = 16, shingleLen = 2, threshold = 0.5)
    val labels = Dedup.connectedComponents(pairs.select(col("a"), col("b")))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    // docs 0/1/3 all collapse to cluster 0 (even if 1~3 was never a direct
    // pair, transitivity through 0 joins them); doc 2 is a singleton
    assert(labels.getOrElse(0L, -1L) == 0L)
    assert(labels.getOrElse(3L, -1L) == 0L)
    assert(!labels.contains(2L))
  }

  test("portable shingles: short docs yield empty sets (sequence guard)") {
    // Spark's sequence(1, n) runs DESCENDING for n < 1 — the guard must
    // keep <3-token docs empty like DuckDB's range(1, n)
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("id", "text")
      .select(col("id"), Dedup.portableTokens(col("text")).as("tk"))
      .select(col("id"), Dedup.portableShingleWindows(col("tk")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(df(1L).isEmpty)
    assert(df(2L) == Seq("a b c", "b c d"))
  }

  test("portable minhash/simhash: identical texts agree, near-dups stay near") {
    val df = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
      (2L, "the quick brown fox jumps over the lazy cat tonight"), // near dup
      (3L, "entirely different words about spark shuffles and joins here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.portableMinhash(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sigs(0L) == sigs(1L)) // exact dup: every signature identical
    // near dup shares most minima; disjoint doc shares none
    assert(sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b } >
      sigs(0L).zip(sigs(3L)).count { case (a, b) => a == b })
    val sh = Dedup.portableSimhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
    // exact dups land in the same bucket in EVERY band → always a pair
    val pairs = Dedup.candidatePairs(
        Dedup.portableBands(Dedup.portableMinhash(df, "doc_id", "text", k = 8),
          "doc_id", k = 8, bands = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("portable minhash kernel is bit-identical to the relational md5 spelling") {
    // the map-side kernel must reproduce, bit for bit, the explode+groupBy
    // spelling that the DuckDB oracles execute — on real driver testdata
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val kernel = Dedup.portableMinhash(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    val exploded = docs
      .select(col("doc_id"), Dedup.portableTokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.portableShingleWindows(col("tk")))).as("sh"))
      .select(col("doc_id") +:
        (0 until 2).map(j => md5(concat(lit(s"$j:"), col("sh"))).as(s"h$j")): _*)
    val mins = (0 until 8).map { p =>
      min(conv(substring(col(s"h${p / 4}"), 1 + 8 * (p % 4), 8), 16, 10)
        .cast("bigint")).as(s"sig$p")
    }
    val relational = exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(kernel.length == 500 && kernel.toSeq == relational.toSeq)
  }

  test("portable simhash kernel is bit-identical to the relational md5 spelling") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val kernel = Dedup.portableSimhash(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    val hexHigh = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val ex = docs
      .select(col("doc_id"), Dedup.portableTokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.portableShingleWindows(col("tk")))).as("sh"))
      .withColumn("h", md5(col("sh")))
    val votes = (1 to 16).map { p =>
      sum(when(substring(col("h"), p, 1).isin(hexHigh: _*), 1)
        .otherwise(-1)).as(s"v$p")
    }
    val fp = (1 to 16).map(p =>
        when(col(s"v$p") > 0, lit(1L << (p - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
    val relational = ex.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash16"))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(kernel.length == 500 && kernel.toSeq == relational.toSeq)
  }

  test("duplicated-span coverage counts positional windows shared across docs") {
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon"), // 3 windows, 1 shared
      (1L, "alpha beta gamma zeta eta"),      // 3 windows, 1 shared
      (2L, "totally unrelated words here now")) // 3 windows, 0 shared
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((3L, 1L, 0.3333)))
    assert(out(1L) == ((3L, 1L, 0.3333)))
    assert(out(2L) == ((3L, 0L, 0.0)))
    // a gram repeated only WITHIN one doc is not a duplicated span
    val self = Seq((0L, "x y z x y z x y"), (1L, "p q r s t u v"))
      .toDF("doc_id", "text")
    val selfOut = Dedup.duplicatedSpanStats(self, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(selfOut(0L) == 0L)
  }

  test("duplicated-span CLEAN removes covered tokens in place, case-preserved") {
    val df = Seq(
      (0L, "Alpha Beta Gamma delta epsilon"), // windows 1..3; window 1 shared
      (1L, "alpha beta gamma zeta eta"),      // (keys lowercase, case differs)
      (2L, "totally unrelated words here now"),
      (3L, "hi"),                              // < 3 tokens: untouched
      (4L, "   "))                             // zero tokens: empty rebuild
      .toDF("doc_id", "text")
    val out = Dedup.duplicatedSpanClean(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // "Alpha Beta Gamma" is duplicated (lowercased key) across docs 0/1:
    // tokens 1..3 drop from both, ORIGINAL case kept on survivors
    assert(out(0L) == ((5L, 3L, "delta epsilon")))
    assert(out(1L) == ((5L, 3L, "zeta eta")))
    assert(out(2L) == ((5L, 0L, "totally unrelated words here now")))
    assert(out(3L) == ((1L, 0L, "hi")))
    assert(out(4L) == ((0L, 0L, "")))
    // overlapping duplicated windows merge their coverage, not double-drop
    val ov = Seq(
      (0L, "a b c d e f"),  // windows "a b c","b c d" both duplicated
      (1L, "a b c d x y"))
      .toDF("doc_id", "text")
    val ovOut = Dedup.duplicatedSpanClean(ov, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(ovOut(0L) == ((4L, "e f")))
    assert(ovOut(1L) == ((4L, "x y")))
  }

  test("capped hamming bands: capped pairs are a subset; drop count is exact and loud") {
    // ONE planted oversized bucket: ids 0..9 share band 0 value 0xABC
    // (bucket size 10) while every other band value is unique to its id.
    // The pair (8, 9) differs by exactly one bit in each of bands 1..3
    // (hamming 3), so band 0 is its ONLY shared band — a cap that drops
    // that bucket loses exactly that pair and nothing else. Control pair
    // (20, 21): identical hashes in their own size-2 buckets, found
    // capped or not.
    def h(v: Long) = (v << 48) | (v << 32) | (v << 16) | 0xABCL
    val rows = (0 until 8).map(i => (i.toLong, h(1L << (i + 2)))) ++ Seq(
      (8L, h(100L)),
      (9L, h(100L) ^ 0x0001000100010000L),
      (20L, (7777L << 48) | (55L << 32) | (66L << 16) | 0x5L),
      (21L, (7777L << 48) | (55L << 32) | (66L << 16) | 0x5L))
    val hashes = rows.toDF("id", "hash")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val uncapped = pairSet(Dedup.bandedHammingPairs(hashes, "id", "hash",
      maxHamming = 3, maxBucketSize = Int.MaxValue))
    assert(uncapped == Set((8L, 9L), (20L, 21L)), s"uncapped=$uncapped")
    val obs = new org.apache.spark.sql.Observation("hamming-drop-audit")
    val capped = pairSet(Dedup.bandedHammingPairs(hashes, "id", "hash",
      maxHamming = 3, maxBucketSize = 5, dropAudit = Some(obs)))
    assert(capped == Set((20L, 21L)), s"capped=$capped")
    assert(capped.subsetOf(uncapped))
    val m = obs.get
    assert(m("dropped_buckets") == 1L, m)
    assert(m("max_bucket_size") == 10, m)
  }

  test("perceptualIngest skew guard: distinct-trim is exact; a binding cap is loud") {
    // index: hash H stored SIX times (the popular-image case — the
    // distinct-trim collapses it to one row) plus six DISTINCT hashes
    // g(0..5) that all share band 0 value 0 (a hot bucket of distinct
    // hashes the trim cannot collapse). Batch: 100 = exact dup of H
    // (gated out), 101 = far from everything (survives), 102 = hamming 3
    // from g(0) with band 0 as the ONLY shared band — exact mode gates
    // it; a cap that drops the hot bucket lets it through (and must say
    // so via the audit).
    def g(v: Long) = (v << 48) | (v << 32) | (v << 16)
    val index = ((0 until 6).map(i => (i.toLong, 0xABCL)) ++
      (0 until 6).map(i => (10L + i, g(2L * i + 1)))).toDF("media_id", "ph")
    val batch = Seq(
      (100L, 0xABCL),
      (101L, 0x0F0F0F0F0F0F0F0FL),
      (102L, g(1L) ^ 0x0010001000100000L)).toDF("media_id", "ph")
    def survivors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getAs[Long]("media_id")).toSet
    val exact = survivors(Dedup.perceptualIngest(batch, index, "media_id", "ph",
      maxHamming = 3))
    assert(exact == Set(101L), s"exact=$exact")
    val obs = new org.apache.spark.sql.Observation("ingest-drop-audit")
    val capped = survivors(Dedup.perceptualIngest(batch, index, "media_id", "ph",
      maxHamming = 3, maxBucketSize = 3, dropAudit = Some(obs)))
    assert(capped == Set(101L, 102L), s"capped=$capped")
    assert(exact.subsetOf(capped)) // a cap only ever ADDS false survivors
    val m = obs.get
    assert(m("dropped_buckets") == 1L, m)
    assert(m("max_bucket_size") == 6L, m)
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("merge fold is greedy left-to-right non-overlapping") {
    val runs = Seq((1L, Seq("a", "a", "a")), (2L, Seq("a", "a", "a", "a")))
      .toDF("id", "syms")
      .select(col("id"), Bpe.applyMerge(col("syms"), "a", "a").as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // run of equal symbols: every other pair merges, left to right
    assert(runs(1L) == Seq("aa", "a"))
    assert(runs(2L) == Seq("aa", "aa"))
    val mixed = Seq((3L, Seq("x", "a", "b", "a", "b"))).toDF("id", "syms")
      .select(Bpe.applyMerge(col("syms"), "a", "b").as("m"))
      .head().getSeq[String](0)
    assert(mixed == Seq("x", "ab", "ab"))
  }

  test("train learns deterministic merges and final segmentation on a toy corpus") {
    // the classic BPE walkthrough corpus: low x3, lower x1, lowest x1
    val docs = Seq((1L, "low lower lowest low low")).toDF("doc_id", "text")
    val (merges, dict) = Bpe.train(docs, "text", rounds = 4)
    // round 1: (l,o) and (o,w) tie at 5 -> lexicographic a breaks to (l,o);
    // round 4: three pairs tie at 1 -> ("lowe","r") wins on (a, b) order
    assert(merges == Seq(
      Bpe.Merge(1, "l", "o", 5L), Bpe.Merge(2, "lo", "w", 5L),
      Bpe.Merge(3, "low", "e", 2L), Bpe.Merge(4, "lowe", "r", 1L)))
    val segs = dict.collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Seq[String]]("syms")).toMap
    assert(segs == Map(
      "low" -> Seq("low"), "lower" -> Seq("lower"),
      "lowest" -> Seq("lowe", "s", "t")))
    // re-tokenization: 3 words -> 1 + 1 + 3 learned subword pieces
    val counts = Bpe.subwordCounts(
        Seq((7L, "low lower lowest")).toDF("doc_id", "text"),
        "doc_id", "text", dict)
      .head()
    assert(counts.getAs[Long]("n_words") == 3L)
    assert(counts.getAs[Long]("n_subwords") == 5L)
  }
}

class TextPipelineSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("repetition ratio flags boilerplate, zero for unique or short docs") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now"), // heavy 3-gram repeats
      (2L, "all tokens here are completely unique words"),
      (3L, "too short")).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > 0.5)
    assert(out(2L) == 0.0)
    assert(out(3L) == 0.0) // fewer than n tokens -> no grams -> 0
  }

  test("pii scrub masks emails, urls and digit runs; counts match") {
    val df = Seq((1L,
      "mail me at jo.doe+x@corp.example.org or see https://ex.com/a?b=1 tel 555 0192 777 end"))
      .toDF("doc_id", "text")
    val row = df.select(Seq(TextAnalysis.scrubPii(col("text")).as("clean")) ++
        TextAnalysis.piiCounts(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    val clean = row.getAs[String]("clean")
    assert(clean.contains("<EMAIL>") && clean.contains("<URL>") && clean.contains("<NUMBER>"))
    assert(!clean.contains("@") && !clean.contains("https://"))
    assert(clean.endsWith("end"))
    assert(row.getAs[Int]("n_emails") == 1)
    assert(row.getAs[Int]("n_urls") == 1)
    assert(row.getAs[Int]("n_numbers") == 1)
  }

  test("stratified sampling is deterministic and rate-proportional") {
    val docs = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "en" else "rare")).toDF("doc_id", "lang")
    val once = Splits.sampleStrata(docs, "lang", "doc_id", Map("en" -> 100))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // en downsampled to ~10%, rare kept in full (default 1000 permille)
    assert(once("rare") == 1000L)
    assert(once("en") > 50L && once("en") < 200L)
    // identical selection on re-run (hash, not rand)
    val again = Splits.sampleStrata(docs, "lang", "doc_id", Map("en" -> 100))
      .agg(org.apache.spark.sql.functions.sum("doc_id")).collect()(0).getLong(0)
    val first = Splits.sampleStrata(docs, "lang", "doc_id", Map("en" -> 100))
      .agg(org.apache.spark.sql.functions.sum("doc_id")).collect()(0).getLong(0)
    assert(again == first)
  }
}

class LayoutSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  test("partitioned write prunes directories on filtered read") {
    val dir = java.nio.file.Files.createTempDirectory("layout").resolve("docs").toString
    val docs = Seq((1L, "en", "a"), (2L, "en", "b"), (3L, "de", "c"), (4L, "fr", "d"))
      .toDF("doc_id", "lang", "text")
    Layout.writePartitioned(docs, dir, Seq("lang"))
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    // the filter lands in PartitionFilters (directory pruning), NOT in the
    // row-level data filters — pruned languages are zero I/O
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("lang"))
    assert(read.count() == 2)
  }

  test("tables bucketed on the join key join with no exchange") {
    val warehouse = spark.conf.getOption("spark.sql.warehouse.dir")
    val docs = (0L until 100L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val scores = (0L until 100L).map(i => (i, i * 0.5)).toDF("doc_id", "score")
    Layout.writeBucketed(docs, "b_docs", "doc_id", 4, Seq("doc_id"))
    Layout.writeBucketed(scores, "b_scores", "doc_id", 4, Seq("doc_id"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed layout: the shuffle was paid at write time — the join
      // plan has no Exchange on either side
      assert(!plan.contains("Exchange"), plan)
      assert(joined.count() == 100)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_scores")
    }
  }

  test("stored LSH band index joins batch bands without re-shuffling the index side") {
    // proves d_lsh_incremental's scale claim: persist the corpus band
    // index bucketed by band_hash, and the steady-state ingest semi-join
    // re-shuffles ONLY the (small) incoming batch — the 100 TB index's
    // shuffle was paid once at write time
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    def bands(d: org.apache.spark.sql.DataFrame) = Dedup.portableBands(
      Dedup.portableMinhash(d, "doc_id", "text", k = 8), "doc_id", k = 8, bands = 4)
    Layout.writeBucketed(bands(docs.filter(col("doc_id") < 250)),
      "lsh_index", "band_hash", 4, Seq("band_hash"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = bands(docs.filter(col("doc_id") >= 250))
      val hits = batch.join(spark.table("lsh_index").select(col("band_hash")),
        Seq("band_hash"), "left_semi")
      val p = hits.queryExecution.executedPlan.toString
      val n = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      // batch side: ONE exchange — the join shuffle on band_hash (the
      // minhash signatures are computed map-side by the portable kernel,
      // so the old groupBy exchange is gone); any second exchange would
      // mean the stored index got re-shuffled
      assert(n == 1, s"expected 1 exchange (batch join side only), got $n:\n$p")
      assert(hits.select(col("id")).distinct().count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS lsh_index")
    }
  }

  test("replaceDir swaps a small table by temp-write + rename") {
    val dir = java.nio.file.Files.createTempDirectory("repl")
      .resolve("stats").toString
    Seq((1L, 10L)).toDF("n", "tot").write.parquet(dir)
    Layout.replaceDir(Seq((2L, 20L)).toDF("n", "tot").coalesce(1), dir)
    assert(spark.read.parquet(dir).collect()(0).toSeq == Seq(2L, 20L))
    // the temp landing pad is renamed away, not left beside the table
    val tmp = new org.apache.hadoop.fs.Path(dir + "__replacing")
    assert(!tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(tmp))
  }

  test("the pending marker acquires atomically: concurrent writers lose " +
      "loudly while one holds it, and win after release") {
    val path = java.nio.file.Files.createTempDirectory("marker").toString
    val started = new java.util.concurrent.CountDownLatch(1)
    val tried = new java.util.concurrent.CountDownLatch(4)
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    // a mutation with nothing to prepare: `body` is its mutate phase
    def fenced(body: => Unit): Unit =
      Layout.withPendingMarkerStaged(spark, path)(())(_ => body)
    fenced {
      val ts = (1 to 4).map(_ => new Thread(() => {
        started.await()
        try fenced(())
        catch { case _: IllegalArgumentException => losers.incrementAndGet() }
        tried.countDown()
      }))
      ts.foreach(_.start()); started.countDown(); tried.await()
      ts.foreach(_.join())
    }
    // create(overwrite = false) serialized them: every contender that
    // raced the holder was refused, none slipped through
    assert(losers.get() == 4)
    // after the holder released, the next writer acquires cleanly
    fenced(())
    // a body that THROWS leaves the marker for loud refusal on retry
    intercept[RuntimeException] {
      fenced(throw new RuntimeException("die"))
    }
    intercept[IllegalArgumentException] {
      fenced(())
    }
  }

  test("withPendingMarkerStaged releases the marker on a PREPARE failure " +
      "(nothing written — the store stays mutable) and keeps it on a " +
      "MUTATE failure") {
    val path = java.nio.file.Files.createTempDirectory("staged").toString
    def fenced(body: => Unit): Unit =
      Layout.withPendingMarkerStaged(spark, path)(())(_ => body)
    // plan-time failure (cancelled job, OOM-killed stage): nothing was
    // written, so the marker must come back off — the store is untouched
    // and must not demand a manual rebuild
    intercept[RuntimeException] {
      Layout.withPendingMarkerStaged[Unit, Unit](spark, path)(
        { throw new RuntimeException("plan-time failure") })(identity)
    }
    Layout.refuseIfPending(spark, path) // no throw: store stays mutable
    fenced(()) // and acquirable
    // write-phase failure: some writes may have landed — marker stays
    intercept[RuntimeException] {
      Layout.withPendingMarkerStaged(spark, path)(42) { _ =>
        throw new RuntimeException("died between writes")
      }
    }
    intercept[IllegalArgumentException] {
      fenced(())
    }
    // prepare still runs UNDER the marker: a concurrent writer racing the
    // prepare phase is excluded, not interleaved
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_graft_merge_pending"),
      false)
    Layout.withPendingMarkerStaged(spark, path)({
      intercept[IllegalArgumentException] {
        fenced(())
      }
    })(_ => ())
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("packSequences plans exact concat-and-chunk packing, invariant to " +
      "the prefix-sum bucketing") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val plan = Packing.packSequences(docs, "doc_id", "text", budget = 64)
      .localCheckpoint()
    // every kept sequence is EXACTLY full: spans sum to the budget
    val fills = Packing.packingStats(plan).collect()
    assert(fills.nonEmpty && fills.forall(_.getLong(2) == 64L),
      s"unfilled sequences: ${fills.filter(_.getLong(2) != 64L).take(3).mkString}")
    // spans never overlap and are contiguous within a doc: per doc, the
    // union of [tok_start, tok_end] ranges is an unbroken prefix of its
    // (tokens + EOS) stream
    val perDoc = plan.groupBy(col("doc_id"))
      .agg(min(col("tok_start")).as("lo"), max(col("tok_end")).as("hi"),
        sum(col("n_tok")).as("n"))
      .collect()
    perDoc.foreach { r =>
      assert(r.getLong(1) == 0L, s"doc ${r.get(0)} does not start at 0")
      assert(r.getLong(3) == r.getLong(2) + 1,
        s"doc ${r.get(0)} spans overlap or gap")
    }
    // the two-level prefix sum is bucketing-invariant: 1 bucket (the
    // naive global window) and 7 buckets produce identical plans
    def rows(b: Int) = Packing.packSequences(docs, "doc_id", "text",
      budget = 64, buckets = b).collect().map(_.toSeq).toSet
    assert(rows(1) == rows(7))
    // zero-token docs contribute nothing — not even an EOS
    val withEmpty = docs.unionByName(Seq((900001L, "   "))
      .toDF("doc_id", "text"))
    assert(Packing.packSequences(withEmpty, "doc_id", "text", budget = 64)
      .collect().map(_.toSeq).toSet == plan.collect().map(_.toSeq).toSet)
  }
}

class SplitsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("hash splits are stable, exhaustive, and group-stable by key") {
    val df = (1 to 2000).map(i => (i.toLong, i % 50)).toDF("row_id", "user_id")
    val out = Splits.withSplit(df, "user_id", trainPct = 80, validPct = 10)
    // same key -> same split, always
    assert(out.groupBy("user_id")
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).count() == 0)
    // assignment is a pure function: rerun matches exactly
    val again = Splits.withSplit(df, "user_id", trainPct = 80, validPct = 10)
    assert(out.select("row_id", "split").except(again.select("row_id", "split")).count() == 0)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train") > counts("valid") && counts("train") > counts("test"))
  }

  test("leakage-safe split: no near-dup pair straddles a split boundary") {
    val docs = (1L to 400L).toDF("id")
    // chain 1-2-3 must share one split; 10-11 another; rest are singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val out = Splits.leakageSafeSplit(docs, "id", pairs)
    val byId = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(byId.size == 400)
    assert(Set(byId(1L), byId(2L), byId(3L)).size == 1, "chain split apart")
    assert(byId(10L) == byId(11L))
    // paired docs take the cluster-min id as key; singletons their own id,
    // so singleton assignment degenerates to the plain withSplit rule
    val plain = Splits.withSplit(docs, "id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 400L).filterNot(Set(1L, 2L, 3L, 10L, 11L)).foreach { i =>
      assert(byId(i) == ((i, plain(i))), s"singleton $i diverged from withSplit")
    }
    // all three splits actually occur at this corpus size
    assert(byId.values.map(_._2).toSet == Set("train", "valid", "test"))
  }

  test("budget sample meets the token budget per domain, never undershoots") {
    // domain "big" has 10 docs x 100 tokens = 1000 >> budget 250;
    // domain "tiny" totals 90 < budget -> taken whole
    val docs = ((1L to 10L).map(i => (i, "big", 100L)) ++
      Seq((11L, "tiny", 50L), (12L, "tiny", 40L))).toDF("id", "dom", "ntok")
    val out = Splits.budgetSample(docs, "dom", "id", col("ntok"),
      budgetTokens = 250L, salt = "s1")
    val byDom = out.collect().groupBy(_.getString(0))
    // big: kept docs reach >= 250 cumulative, and dropping the last kept
    // doc would fall below budget (minimal overshoot)
    val bigCums = byDom("big").map(_.getLong(3)).sorted
    assert(bigCums.last >= 250L && bigCums.last - 100L < 250L, bigCums.mkString(","))
    assert(byDom("big").length == 3) // 100+100+100 crosses 250
    // tiny: whole domain kept
    assert(byDom("tiny").map(_.getLong(1)).toSet == Set(11L, 12L))
    // replayable: same salt -> identical pick; new salt -> same budget law
    val again = Splits.budgetSample(docs, "dom", "id", col("ntok"), 250L, "s1")
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
    val other = Splits.budgetSample(docs, "dom", "id", col("ntok"), 250L, "s2")
      .filter(col("domain") === "big").collect()
    assert(other.map(_.getLong(3)).max >= 250L)
  }

  test("DSIR selection: target-like raw docs outscore the pool, quartiles kept per language") {
    val target = (1L to 4L).map(i => (i, "en", "t", "curated curated corpus text"))
    val like = Seq((10L, "en", "r", "curated corpus text sample"),
      (11L, "en", "r", "curated corpus tokens here"))
    val junk = (12L to 17L).map(i => (i, "en", "r", s"junk junk junk filler$i"))
    val blank = Seq((18L, "fr", "r", "   "))
    val docs = (target ++ like ++ junk ++ blank)
      .toDF("doc_id", "lang", "source", "text")
    val out = Splits.dsirSelect(docs, "doc_id", "lang", "text",
      col("source") === "t")
    val rows = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    // only the raw pool is scored; target rows are the reference, not rows
    assert(rows.keySet == (Set(10L, 11L, 18L) ++ (12L to 17L)))
    // docs sharing the curated profile outscore every junk doc
    val worstLike = Seq(rows(10L)._1, rows(11L)._1).min
    (12L to 17L).foreach(i => assert(rows(i)._1 < worstLike, s"junk $i"))
    // junk-heavy docs sit below zero (their mass is raw-only), a
    // token-free doc sits exactly at zero
    (12L to 17L).foreach(i => assert(rows(i)._1 < 0L))
    assert(rows(18L)._1 == 0L)
    // en pool of 8 -> top quartile keeps exactly the 2 target-like docs;
    // the single fr doc is its own quartile 1
    assert(rows.filter(_._2._2 == 1).keySet == Set(10L, 11L, 18L))
    // pure function of the data: rerun replays bit-for-bit
    val again = Splits.dsirSelect(docs, "doc_id", "lang", "text",
      col("source") === "t")
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
  }

  test("systematic sample picks one row per weight-step, deterministically") {
    // uniform weights: every other row crosses a step boundary
    val uniform = (1L to 10L).map(i => ("a", i, 10L)).toDF("src", "id", "wt")
    val picked = Splits.systematicSample(uniform, "src", "id", col("wt"), 5)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(picked == Seq(2L, 4L, 6L, 8L, 10L)) // tot=100, step=20
    // skewed weights: the heavy row is picked (it spans both boundaries,
    // but lands once); light rows before it never cross one
    val skewed = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 10L), ("a", 4L, 70L))
      .toDF("src", "id", "wt")
    val p2 = Splits.systematicSample(skewed, "src", "id", col("wt"), 2)
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(p2 == Seq(4L))
    // pure function: rerun is identical
    val again = Splits.systematicSample(uniform, "src", "id", col("wt"), 5)
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(again == picked)
  }

  test("sequence packing chunks per-shard token streams at the budget") {
    // shard 0 stream: 300+300+300 → bins 0,0,1; shard 1: 600+100 → 0,1
    val docs = Seq((0L, 300L), (8L, 300L), (16L, 300L), (1L, 600L), (9L, 100L))
      .toDF("id", "ntok")
    val out = Splits.packSequences(docs, "id", col("ntok"), budget = 512, shards = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out == Map(
      0L -> (0L, 0L), 8L -> (0L, 0L), 16L -> (0L, 1L),
      1L -> (1L, 0L), 9L -> (1L, 1L)))
  }

  test("domain mixture invariants: weights sum to 1, budget apportioned within rounding") {
    // skewed 12-domain distribution: invariants must hold regardless of shape
    val docs = (0L until 600L).map { i =>
      val d = (i % 12).toInt
      (i, s"dom$d", 50L + d * 137L + (i % 7) * 11L)
    }.toDF("doc_id", "source", "ntok")
    val out = Splits.domainMixture(docs, "source", col("ntok"), budgetDocs = 100000L)
      .collect()
    assert(out.length == 12)
    val wsum = out.map(_.getDouble(4)).sum
    assert(math.abs(wsum - 1.0) < 12 * 5e-5, s"weights sum to $wsum") // 4dp rounding × 12
    val bsum = out.map(_.getLong(5)).sum
    assert(math.abs(bsum - 100000L) <= 12, s"budget drifted to $bsum") // ±0.5 doc × 12
    // flattening: weight order follows share order, and weight RATIOS are
    // compressed toward 1 relative to share ratios (w_i/w_j = sqrt(p_i/p_j))
    val byShare = out.map(r => (r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    byShare.sliding(2).foreach { case Array((pLo, wLo), (pHi, wHi)) =>
      assert(wLo <= wHi + 5e-5, s"weight order broke: ($pLo,$wLo) vs ($pHi,$wHi)")
      if (pLo > 0 && wHi > 0)
        assert(wLo / wHi >= pLo / pHi - 1e-3,
          s"ratio not compressed: w=${wLo / wHi} p=${pLo / pHi}")
    }
  }

  test("domain mixture flattens toward small domains and apportions the budget") {
    // big: 9000 tokens over 3 docs; small: 1000 over 1 → p = 0.9/0.1 but
    // sqrt-weights 0.75/0.25 — the small domain is up-sampled 2.5×
    val docs = Seq(
      (1L, "big", 3000L), (2L, "big", 3000L), (3L, "big", 3000L),
      (4L, "small", 1000L)).toDF("doc_id", "source", "ntok")
    val out = Splits.domainMixture(docs, "source", col("ntok"), budgetDocs = 1000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5)))).toMap
    assert(out("big") == ((3L, 9000L, 0.9, 0.75, 750L)))
    assert(out("small") == ((1L, 1000L, 0.1, 0.25, 250L)))
  }

  test("shuffle shards: a permutation, contiguous per-shard positions, salt-sensitive") {
    val docs = (0L until 500L).map(i => Tuple1(i)).toDF("id")
    val out = Splits.shuffleShards(docs, "id", "epoch0", shards = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // every id exactly once
    assert(out.map(_._1).toSet == (0L until 500L).toSet)
    // positions within a shard are exactly 1..count (a valid local order)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.size).toSeq,
        s"shard $shard has gapped positions")
    }
    // deterministic: same salt reruns identically
    val again = Splits.shuffleShards(docs, "id", "epoch0", shards = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // a new salt is a fresh permutation: some doc moves shard or position
    val epoch1 = Splits.shuffleShards(docs, "id", "epoch1", shards = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.sortBy(_._1).toSeq != epoch1.sortBy(_._1).toSeq)
  }
}

class NormalizeSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("distributed kmeansRefine matches driver-side kmeansLocal") {
    // same Lloyd math, two execution strategies: the distributed variant
    // (for corpora whose sample can't fit the driver) must land on the
    // same centroids as the collected-sample path
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(60)(Seq.fill(4)(rnd.nextGaussian()))
    val init = pts.take(3)
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    for (spherical <- Seq(false, true)) {
      val dist = Similarity.kmeansRefine(df, "v", init, iters = 4, spherical = spherical)
      val local = Similarity.kmeansLocal(pts, init, iters = 4, spherical = spherical)
      assert(dist.size == local.size)
      dist.lazyZip(local).foreach { (a, b) =>
        a.lazyZip(b).foreach((x, y) => assert(math.abs(x - y) < 1e-9,
          s"spherical=$spherical: $a vs $b"))
      }
    }
  }

  test("normalized vectors make cosine a bare dot product; zero stays zero") {
    val df = Seq((1L, Array(3.0, 4.0)), (2L, Array(0.0, 0.0))).toDF("id", "v")
    val out = Similarity.normalized(df, "v").orderBy("id").collect()
    val u = out(0).getSeq[Double](1)
    assert(math.abs(math.sqrt(u.map(x => x * x).sum) - 1.0) < 1e-12)
    assert(u == Seq(0.6, 0.8))
    assert(out(1).getSeq[Double](1) == Seq(0.0, 0.0))
    // cosine(a, b) == dot(normalized a, normalized b)
    val pairs = Seq((Array(1.0, 2.0, 2.0), Array(2.0, 1.0, 2.0))).toDF("a", "b")
    val r = pairs.select(
      graft.functions.VectorFunctions.cosine_sim(col("a"), col("b")).as("c"),
      graft.functions.VectorFunctions.dot_product(
        transform(col("a"), x => x / graft.functions.VectorFunctions.vector_norm(col("a"))),
        transform(col("b"), x => x / graft.functions.VectorFunctions.vector_norm(col("b")))).as("d"))
      .collect()(0)
    assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force top-k ranks by cosine") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2).collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("c_id") == 1L)
    assert(out(0).getAs[Int]("rank") == 1)
  }

  test("int8 quantization round-trips within the scale/2 per-dim bound") {
    val df = Seq(
      (1L, Array(0.5f, -1.27f, 0.001f, 1.27f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector: scale 0, codes 0
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .select(col("id"), col("scale"),
        Similarity.dequantize(col("codes"), col("scale")).as("dv"), col("codes"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Double](2), r.getSeq[Int](3)))).toMap
    val (scale, dv, codes) = q(1L)
    // expected scale from the FLOAT-cast magnitudes (1.27f != 1.27 in double)
    assert(math.abs(scale - 1.27f.toDouble / 127.0) < 1e-15)
    assert(codes.max <= 127 && codes.min >= -127)
    // reconstruction error per dimension bounded by half a quantization step
    Seq(0.5f, -1.27f, 0.001f, 1.27f).map(_.toDouble).zip(dv).foreach {
      case (orig, rec) =>
        assert(math.abs(orig - rec) <= scale / 2 + 1e-9, s"$orig vs $rec")
    }
    val (scale2, dv2, codes2) = q(2L)
    assert(scale2 == 0.0 && codes2.forall(_ == 0) && dv2.forall(_ == 0.0))
  }

  test("sign-LSH finds exact and near duplicates, excludes orthogonal vectors") {
    val dims = 8
    val base = Seq(1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, -0.9)
    val near = base.updated(1, 0.25) // tiny perturbation, cosine ~1
    val ortho = Seq(0.0, 1.0, 0.5, 0.0, -0.8, 0.3, 0.0, 0.4)
    val df = Seq(
      (1L, base), (2L, base), (3L, near), (10L, ortho))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupBySignLsh(df, "vec_id", "embedding",
        dims = dims, threshold = 0.9, k = 16, bands = 8)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    // identical vectors share EVERY band — guaranteed recall for exact dups
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 10L || b == 10L })
  }

  test("ivf assigns nearest centroid and prunes probes") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val assigned = Similarity.assignCentroids(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      "v", centroids).orderBy("vec_id").collect()
    assert(assigned.map(_.getAs[Int]("centroid_id")).toSeq == Seq(0, 0, 1, 2))

    val out = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", k = 2, centroids, nprobe = 1).collect()
    // with nprobe=1 only bucket 0 is probed → single candidate (id 1)
    assert(out.length == 1 && out(0).getAs[Long]("c_id") == 1L)
  }

  test("pqEncode assigns argmin codes with index tie-break") {
    // 4-dim vectors, m=2 subspaces of 2 dims, k=2 centroids per subspace.
    // Unit-normalization happens inside pqEncode, so pick unit inputs.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // sub0 ~ c0, sub1 ~ tie -> c0
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f))    // sub0 ~ c1
    ).toDF("vec_id", "embedding")
    val cb = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),     // subspace 0
      Seq(Seq(0.0, 0.0), Seq(0.0, 0.0)))     // subspace 1: identical -> tie
    val codes = Similarity.pqEncode(df, "vec_id", "embedding", cb)
      .orderBy("vec_id").collect().map(_.getSeq[Int](1).toSeq)
    assert(codes(0) == Seq(0, 0), s"got ${codes(0)}") // tie broke to index 0
    assert(codes(1) == Seq(1, 0), s"got ${codes(1)}")
  }

  test("ivfPqTopK with all buckets probed and full shortlist equals brute-force") {
    val cb = Similarity.pqTrain(
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)), m = 1, k = 2)
    val coarse = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
    val exact = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = Similarity.ivfPqTopK(vecs, vecs, "vec_id", "embedding", k = 2,
        coarse, cb, nprobe = 3, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact, s"got=$got exact=$exact")
  }

  test("pqTopK with full shortlist equals brute-force exactly") {
    // the re-rank is exact cosine, so an un-truncating shortlist must make
    // PQ degrade to the exact answer — a strong end-to-end identity that
    // pins the ADC plumbing (LUT layout, code lookup, join keys)
    val cb = Similarity.pqTrain(
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)), m = 1, k = 2)
    val exact = Similarity.bruteForceTopK(vecs, vecs, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = Similarity.pqTopK(vecs, vecs, "vec_id", "embedding", k = 2,
        cb, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq == exact, s"pq=$pq exact=$exact")
  }
}

/** Recall gates for the approximate similarity paths, pinned against their
  * exact twins on the driver's own sf0.01 testdata — a silent recall
  * regression in IVF probing or sign-LSH banding fails CI here even though
  * CORRECTNESS grades those queries rows-only.
  */
class RecallSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  test("IVF top-k recall@5 >= 0.9 vs brute force at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topk("s_ann_bruteforce")
    val ivf = topk("s_ann_ivf")
    val recalls = exact.map { case (q, ids) =>
      ivf.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"IVF recall@5 regressed: $mean (per-query: $recalls)")
  }

  test("stored-IVF mutual-kNN (trained codebook) reciprocal-pair recall vs brute force") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    // the PRODUCTION mutual-kNN path graded as s_mutual_knn_stored uses the
    // portable first-8-unit codebook (so the DuckDB twin can recompute it);
    // THIS gate pins the trained-kmeans codebook — same store layout, same
    // ivfSelfTopK shuffle-join feeder, kmeansLocal coarse seeds (the
    // s_ann_ivf sample discipline). Reciprocal-pair recall compounds BOTH
    // directions' list recall, and isotropic random vectors are the
    // worst case for any coarse quantizer (no cluster structure to probe
    // into), so the pin is deliberately below the one-directional 0.9.
    val emb = Tables(spark, dir, "embeddings")
    val sortKey = when(col("vec_id") < 8, lit(-1L))
      .otherwise(pmod(xxhash64(col("vec_id")), lit(1000000007L)))
    val training = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(sortKey, col("vec_id")).limit(8192)
      .collect().map(r => r.getAs[Long](0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1)
    val seed = training.takeWhile(_._1 < 8).map(_._2).toSeq
    val cents = Similarity.kmeansLocal(training.map(_._2).toSeq, seed,
      iters = 5, spherical = true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_mknn_store").toString
    Similarity.writeIvfStore(emb, "vec_id", "embedding", cents, path)
    val stored = Similarity.mutualTopK(
        Similarity.ivfSelfTopK(spark.read.parquet(path), "vec_id",
          "embedding", k = 5, coarse = cents, nprobe = 3))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val truth = SparkEntry.queries("s_mutual_knn")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val recall = truth.intersect(stored).size.toDouble / truth.size
    assert(recall >= 0.7,
      s"stored mutual-kNN pair recall regressed: $recall " +
        s"(truth ${truth.size}, stored ${stored.size})")
    // and no false pairs relative to the lists it was fed: every emitted
    // pair must be reciprocal within the IVF lists by construction, so
    // precision failures here mean the mutual filter itself broke
    assert(stored.forall { case (a, b) => a < b })
  }

  test("auto-sized codebook mutual-kNN reciprocal-pair recall vs brute force") {
    assume(new java.io.File(dir).isDirectory)
    // the round-11 sizing POLICY under the same recall gate as the
    // trained codebook above: autoCoarseCodebook picks C = sqrt(N)
    // hash-stride seeds with the share-audit split — no training pass,
    // no replica knowledge. Recall at FIXED nprobe falls as C grows on
    // isotropic vectors (nprobe/C of the space probed — the cost story
    // ScaleProbe measures); this gate instead holds the PROBED FRACTION
    // at the graded 8-seed path's 3/8 and checks the codebook's cluster
    // QUALITY: at equal fraction, sqrt(N) hash-stride seeds must not
    // partition worse than the 8-seed baseline.
    val emb = Tables(spark, dir, "embeddings")
    val seeds = Similarity.autoCoarseCodebook(emb, "vec_id", "embedding")
    val nprobe = math.max(3, math.ceil(seeds.size * 3.0 / 8).toInt)
    val path = java.nio.file.Files
      .createTempDirectory("graft_auto_store").toString
    Similarity.writeIvfStore(emb, "vec_id", "embedding", seeds, path)
    val stored = Similarity.mutualTopK(
        Similarity.ivfSelfTopK(spark.read.parquet(path), "vec_id",
          "embedding", k = 5, coarse = seeds, nprobe = nprobe))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val truth = SparkEntry.queries("s_mutual_knn")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val recall = truth.intersect(stored).size.toDouble / truth.size
    assert(recall >= 0.7,
      s"auto-codebook mutual-kNN pair recall degenerated: $recall " +
        s"(truth ${truth.size}, stored ${stored.size}, C=${seeds.size}, " +
        s"nprobe=$nprobe)")
    assert(stored.forall { case (a, b) => a < b })
  }

  test("two-level auto codebook mutual-kNN reciprocal-pair recall vs brute force") {
    assume(new java.io.File(dir).isDirectory)
    // the hierarchical sizing path under the SAME recall gate as the
    // flat auto codebook above: autoTwoLevelCodebook seeds T = ceil(sqrt C)
    // tops by hash-stride and quotas each cell's children, assignment
    // and probes run through the codegen'd two-level kernel, and the
    // probed fraction is held at the 8-seed baseline's 3/8 (nprobe over
    // the children within half the tops) — the top-level restriction is
    // exactly the approximation this gate prices
    val emb = Tables(spark, dir, "embeddings")
    val cb = Similarity.autoTwoLevelCodebook(emb, "vec_id", "embedding")
    assert(cb.size >= 8 && cb.tops.size >= 2,
      s"expected a real hierarchy, got ${cb.tops.size} tops / ${cb.size}")
    val nprobeTop = math.max(2, math.ceil(cb.tops.size / 2.0).toInt)
    val nprobe = math.max(3, math.ceil(cb.size * 3.0 / 8).toInt)
    val path = java.nio.file.Files
      .createTempDirectory("graft_twolevel_store").toString
    Similarity.writeIvfStoreTwoLevel(emb, "vec_id", "embedding", cb, path)
    val stored = Similarity.mutualTopK(
        Similarity.ivfSelfTopKTwoLevel(spark.read.parquet(path), "vec_id",
          "embedding", k = 5, cb, nprobeTop = nprobeTop, nprobe = nprobe))
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val truth = SparkEntry.queries("s_mutual_knn")(spark, dir).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val recall = truth.intersect(stored).size.toDouble / truth.size
    assert(recall >= 0.7,
      s"two-level mutual-kNN pair recall degenerated: $recall " +
        s"(truth ${truth.size}, stored ${stored.size}, C=${cb.size}, " +
        s"T=${cb.tops.size}, nprobeTop=$nprobeTop, nprobe=$nprobe)")
    assert(stored.forall { case (a, b) => a < b })
  }

  test("Matryoshka half-dim SHORTLIST contains the full-dim top-5 (recall >= 0.9)") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    // the real adaptive-retrieval contract is not half-dim top-5 == full
    // top-5 (on isotropic synthetic vectors truncation genuinely loses
    // rank information — measured ~0.3 direct recall) but that a cheap
    // half-dim SHORTLIST keeps the full-dim winners for the exact
    // re-rank stage. Isotropic random vectors are the WORST case for
    // truncation (no front-loaded variance, unlike Matryoshka-trained
    // embeddings), so the shortlist must be generous: measured recall
    // here is 0.76@50, 0.96@100, 1.0@200 of 2000 candidates — pin
    // k=100 (a 20x-cheaper first pass) at >= 0.9.
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val full = topk("s_ann_bruteforce")
    val emb = Tables(spark, dir, "embeddings").select(col("vec_id"),
      slice(col("embedding").cast("array<double>"), 1, 32).as("embedding"))
    val shortlist = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 100)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = full.map { case (q, ids) =>
      shortlist.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"matryoshka shortlist recall too low: $mean ($recalls)")
  }

  test("int8 quantized ranking keeps recall@5 >= 0.8 vs float cosine") {
    assume(new java.io.File(dir).isDirectory)
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topk("s_ann_bruteforce")
    val int8 = topk("s_ann_int8")
    val recalls = exact.map { case (q, ids) =>
      int8.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // int8 ranks by unnormalized integer dot (per-vector max-abs scale):
    // quantization noise plus the missing norm costs a little rank
    // fidelity; the store is 4x smaller and every score exact
    assert(mean >= 0.8, s"int8 recall@5 too low: $mean ($recalls)")
  }

  test("s_ann_recall audit agrees with the independently computed recall") {
    assume(new java.io.File(dir).isDirectory)
    def topk(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topk("s_ann_bruteforce")
    val stored = topk("s_ann_ivf_stored")
    val audit = SparkEntry.queries("s_ann_recall")(spark, dir).collect()
      .map(r => r.getAs[Long]("q_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("recall_at_5"))).toMap
    assert(audit.keySet == exact.keySet)
    audit.foreach { case (q, (nHit, rec)) =>
      val want = exact(q).intersect(stored.getOrElse(q, Set.empty)).size
      assert(nHit == want.toLong, s"q=$q: audit says $nHit, truth $want")
      assert(rec == math.round(want / 5.0 * 10000) / 10000.0)
    }
  }

  test("PQ ADC + re-rank recall@5 >= 0.9 vs brute force at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    // the PRODUCTION codebook path: per-subspace k-means (pqTrain) on the
    // same bounded deterministic sample discipline as the IVF codebook —
    // the graded s_ann_pq query uses the portable seed codebooks instead,
    // so this is the gate that pins the trained path's fitness
    val emb = Tables(spark, dir, "embeddings")
    val training = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"))
      .limit(8192)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      }
    // random (cluster-free) 64-dim data concentrates distances — the worst
    // case for a product code — so the gate uses a 16x16 code (1 bit/dim)
    // and leans on the shortlist (100 of 500 here; at real scale
    // shortlist/corpus is ~1e-5 and the corpus has actual structure for
    // the codebooks to exploit)
    val cb = Similarity.pqTrain(training, m = 16, k = 16, iters = 5)
    val pq = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, cb, shortlist = 100).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (q, ids) =>
      pq.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"PQ recall@5 regressed: $mean (per-query: $recalls)")
  }

  test("IVF-PQ (trained coarse + trained codes) recall@5 >= 0.9 at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, dir, "embeddings")
    val raw = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"))
      .limit(8192)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val unit = raw.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val coarse = Similarity.kmeansLocal(unit, unit.take(8), iters = 5,
      spherical = true)
    val cb = Similarity.pqTrain(unit, m = 16, k = 16, iters = 5)
    // cluster-free random vectors scatter true neighbors across coarse
    // buckets AND defeat the product code — the compounded worst case
    // (measured here: nprobe 5/8 + shortlist 150 = 0.78, nprobe 6/8 =
    // 0.86), so the >= 0.9 gate runs near-exhaustive knobs (7/8 buckets,
    // 200-of-500 shortlist) and pins the PLUMBING: assignment, probe
    // pruning, ADC join, re-rank. On structured corpora nprobe/C and
    // shortlist/corpus run orders of magnitude tighter — that trade is
    // the portable-twin query's job to keep deterministic, not this
    // gate's to tune
    val got = Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, coarse, cb,
        nprobe = 7, shortlist = 200).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (q, ids) =>
      got.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"IVF-PQ recall@5 regressed: $mean (per-query: $recalls)")
  }

  test("stored-layout IVF is row-identical to flat IVF with a trained codebook") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    // the production path: spherical k-means coarse codebook, corpus
    // written centroid-partitioned, probes served by DPP. Same
    // assignment/probe/tie rules as the flat operator, so the stored
    // path must reproduce it EXACTLY — equality, not a recall gate
    val emb = Tables(spark, dir, "embeddings")
    val raw = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000000007L)), col("vec_id"))
      .limit(2048)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    val unit = raw.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val coarse = Similarity.kmeansLocal(unit, unit.take(8), iters = 5,
      spherical = true)
    val store = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_ivf_trained").getAbsolutePath
    Similarity.writeIvfStore(emb, "vec_id", "embedding", coarse, store)
    val stored = Similarity.ivfTopKStored(spark.read.parquet(store),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        coarse, nprobe = 3)
      .orderBy("q_id", "rank").collect().toSeq
    val flat = Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, coarse, nprobe = 3)
      .orderBy("q_id", "rank").collect().toSeq
    assert(stored.nonEmpty && stored == flat)
  }

  test("int8-quantized search keeps top-5 recall >= 0.9 vs full-precision at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    // searching over the SQ8-reconstructed vectors (what a quantized store
    // serves) must preserve the exact neighbors — the codec's fitness-for-
    // purpose gate, beyond the per-dim error bound
    val emb = Tables(spark, dir, "embeddings")
    val deq = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select(col("id").as("vec_id"),
        Similarity.dequantize(col("codes"), col("scale")).as("embedding"))
    def topk(corpus: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5).collect()
        .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("c_id"))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = topk(emb)
    val quant = topk(deq)
    val recalls = exact.map { case (q, ids) =>
      quant.getOrElse(q, Set.empty).intersect(ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"quantized top-5 recall regressed: $mean (per-query: $recalls)")
  }

  test("minhash-LSH: precision exact, pair recall >= 0.95 vs all-pairs Jaccard at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
        array_distinct(Dedup.shingles(col("text"), 3)).as("ss"))
      .filter(size(col("ss")) > 0)
    val a = sh.select(col("doc_id").as("a"), col("ss").as("sa"))
    val b = sh.select(col("doc_id").as("b"), col("ss").as("sb"))
    val scored = a.join(b, col("a") < col("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jac") >= 0.5)
      .select("a", "b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = scored.keySet
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 64, bands = 16, shingleLen = 3, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the verify stage makes precision exact by construction; banding only
    // risks recall (a >=threshold pair sharing no band)
    assert(lsh.subsetOf(exact), s"false positives survived verify: ${lsh.diff(exact)}")
    // recall is an ALGORITHM property only where banding theory delivers
    // it: with k=64/bands=16 (r=4), P(candidate) = 1-(1-s^4)^16 is ~0.99
    // at s=0.7 but only ~0.64 at s=0.5 — so gate >=0.95 on the >=0.7
    // pairs and keep a looser floor on the full >=threshold set
    val strong = scored.filter(_._2 >= 0.7).keySet
    val strongRecall =
      if (strong.isEmpty) 1.0 else lsh.intersect(strong).size.toDouble / strong.size
    assert(strongRecall >= 0.95, s"minhash-LSH recall on jac>=0.7 pairs: $strongRecall")
    val recall = if (exact.isEmpty) 1.0 else lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"minhash-LSH overall pair recall collapsed: $recall")
  }

  test("simhash banding finds EXACTLY the brute-force hamming<=3 pairs at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    // 4x16-bit bands + hamming<=3: pigeonhole guarantees at least one
    // intact band, so UNCAPPED banding must be lossless, not just
    // high-recall (the production maxBucketSize cap is a separate,
    // deliberate recall trade for degenerate corpora)
    val hashes = Dedup.simhash(docs, "doc_id", "text")
    val ha = hashes.select(col("id").as("a"), col("simhash").as("sa"))
    val hb = hashes.select(col("id").as("b"), col("simhash").as("sb"))
    val brute = ha.join(hb, col("a") < col("b"))
      .filter(bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3,
        maxBucketSize = Int.MaxValue)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute,
      s"banding lost/invented pairs: missing=${brute.diff(banded)} extra=${banded.diff(brute)}")
  }

  test("sign-LSH pair recall >= 0.95 vs the exact all-pairs oracle at sf0.01") {
    assume(new java.io.File(dir).isDirectory)
    def pairSet(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    val exact = pairSet("s_embed_neardup")
    val lsh = pairSet("s_embed_neardup_lsh")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95,
      s"sign-LSH pair recall regressed: $recall (${lsh.intersect(exact).size}/${exact.size})")
  }
}

class LinkRankSpec extends SparkSpec {
  import spark.implicits._

  test("fixed-point PageRank matches the hand-computed iterate") {
    // 1→2, 2→1, 3→1: node 1 concentrates rank, node 3 has no in-links
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    def run(iters: Int): Map[Long, Long] =
      LinkRank.pageRank(edges, iters, scale = 100L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: r1 = (15*100 + 85*(100+100)) div 100 = 185; r2 = 100; r3 = 15
    assert(run(1) == Map(1L -> 185L, 2L -> 100L, 3L -> 15L))
    // iter 2: r1 = (1500 + 85*(100+15)) div 100 = 112
    //         r2 = (1500 + 85*185) div 100 = 172; r3 stays at teleport 15
    assert(run(2) == Map(1L -> 112L, 2L -> 172L, 3L -> 15L))
  }

  test("PageRank drops dangling mass deterministically") {
    // 1→2 only: node 2 never passes its rank on (no out-edges)
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val r = LinkRank.pageRank(edges, iters = 3, scale = 100L).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // node 1 receives only teleport after iter 1; node 2 = 15 + 0.85*r1
    assert(r(1L) == 15L)
    assert(r(2L) == (1500L + 85L * 15L) / 100L)
  }
}

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  test("session breaks on gaps > timeout") {
    val ts = Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 01:00:00"), // gap 50min → new session
      (2L, "2024-01-01 00:00:00"))
      .toDF("user_id", "s").withColumn("ts", col("s").cast("timestamp"))
    val out = Sessionize.sessionCounts(ts, "user_id", "ts", 30)
      .orderBy("user_id").collect()
    assert(out(0).getAs[Long]("n_sessions") == 2L)
    assert(out(0).getAs[Long]("n_events") == 3L)
    assert(out(1).getAs[Long]("n_sessions") == 1L)
  }
}

class RobustSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("median/MAD outlier flags: exact low medians, degenerate MAD, approx twin") {
    // grp a: x = 10,12,14,16,100 -> med 14 (odd n), devs 4,2,0,2,86 ->
    // MAD (low median of 0,2,2,4,86) = 2 -> only 100 exceeds 3*2
    // grp b (even n): x = 5,7,9,11 -> low med 7, devs 2,0,2,4 -> MAD 2 ->
    // outlier iff dev > 6: none
    // grp c (degenerate): x = 8,8,8,50 -> med 8, MAD 0 -> 50 flagged
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 12L), (3L, "a", 14L), (4L, "a", 16L), (5L, "a", 100L),
      (6L, "b", 5L), (7L, "b", 7L), (8L, "b", 9L), (9L, "b", 11L),
      (10L, "c", 8L), (11L, "c", 8L), (12L, "c", 8L), (13L, "c", 50L))
      .toDF("id", "grp2", "v")
    val out = Robust.outliers(df, "id", "grp2", col("v")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(out(3L) == ((14L, 14L, 2L, false)))
    assert(out(5L) == ((100L, 14L, 2L, true)))
    assert((6L to 9L).forall(!out(_)._4))
    assert(out(7L)._2 == 7L && out(7L)._3 == 2L) // even-n low median
    assert(out(13L) == ((50L, 8L, 0L, true)) && !out(10L)._4)
    assert(out.values.count(_._4) == 2)

    // the sketch path is exact at this size: flags identical
    val approx = Robust.approxOutliers(df, "id", "grp2", col("v")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(approx == out.view.mapValues(_._4).toMap)
  }

  test("approx twin matches exact on the driver corpus") {
    val d = Tables(spark, "/root/testdata/sf0.01", "documents")
    val exact = Robust.outliers(d, "doc_id", "lang",
      TextAnalysis.tokenCount(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val approx = Robust.approxOutliers(d, "doc_id", "lang",
      TextAnalysis.tokenCount(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(exact == approx)
    assert(exact.nonEmpty)
  }
}

/** Model-based randomized checks: the exact operators vs independent
  * plain-Scala models over seeded random data (the SparkSpec analogue of
  * KernelProperties — invariants hold on arbitrary inputs, not just the
  * hand-built fixtures).
  */
class ExactModelSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("robust outliers == plain-Scala low-median/MAD model on random data") {
    def lowMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size - 1) / 2)
    val rnd = new scala.util.Random(42)
    val rows = (1L to 300L).map(i =>
      (i, s"g${rnd.nextInt(5)}", rnd.nextInt(1000).toLong))
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val med = lowMedian(rs.map(_._3))
      val mad = lowMedian(rs.map(r => math.abs(r._3 - med)))
      rs.map(r => r._1 -> ((r._3, med, mad, math.abs(r._3 - med) > 3 * mad)))
    }
    val got = Robust.outliers(rows.toDF("id", "g", "v"), "id", "g", col("v"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got == expected)
  }

  test("budget sample == plain-Scala md5 prefix-sum model on random data") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(i =>
      (i, s"d${rnd.nextInt(6)}", (1 + rnd.nextInt(50)).toLong))
    val budget = 300L
    val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
      val ordered = rs.sortBy(r => (md5hex(s"${r._1}:sx"), r._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums)
        .filter { case (r, c) => c - r._3 < budget }
        .map { case (r, c) => r._1 -> ((r._3, c)) }
    }
    val got = Splits.budgetSample(rows.toDF("id", "d", "v"), "d", "id",
        col("v"), budget, salt = "sx")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // and every domain either met the budget or was taken whole
    val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val kept = got.keySet
    rows.groupBy(_._2).foreach { case (d, rs) =>
      val keptCums = rs.filter(r => kept(r._1)).map(r => got(r._1)._2)
      if (totals(d) >= budget) assert(keptCums.max >= budget, s"domain $d undershot")
      else assert(rs.forall(r => kept(r._1)), s"small domain $d not whole")
    }
  }
}

class ClassifySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val train = Seq(
    (0L, "apple banana apple cherry", "fruit"),
    (1L, "banana banana apple", "fruit"),
    (2L, "bolt nut bolt washer", "tool"),
    (3L, "nut washer bolt", "tool")
  ).toDF("doc_id", "text", "lang")

  test("nbModel weights are exact fixed-point integers with the right sign") {
    val m = Classify.nbModel(train, "text", "lang").collect()
    // every seen term lifts its class: w = llr - def > 0 by construction
    assert(m.nonEmpty && m.forall(_.getAs[Long]("w") > 0L))
    // hand-check one weight: fruit has tok=7 tokens, vocab V=6 distinct
    // terms overall; apple appears cnt=3 times in fruit
    val apple = m.find(r => r.getString(0) == "fruit" && r.getString(1) == "apple").get
    val llr = math.round(1e6 * math.log((3 + 1.0) / (7 + 6)))
    val dw = math.round(1e6 * math.log(1.0 / (7 + 6)))
    assert(apple.getAs[Long]("llr") == llr)
    assert(apple.getAs[Long]("w") == llr - dw)
  }

  test("nbPredict separates disjoint-vocab classes perfectly") {
    val test = Seq(
      (10L, "apple cherry banana"), (11L, "cherry apple"),
      (12L, "washer bolt nut nut"), (13L, "bolt bolt")
    ).toDF("doc_id", "text")
    val model = Classify.nbModel(train, "text", "lang")
    val base = Classify.nbClassBase(train, "doc_id", "text", "lang")
    val got = Classify.nbPredict(test, model, base, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "fruit", 11L -> "fruit",
      12L -> "tool", 13L -> "tool"))
  }

  test("nbPredict scores unseen-only and empty docs by prior + unseen mass") {
    val test = Seq((20L, "zzz qqq"), (21L, "")).toDF("doc_id", "text")
    val model = Classify.nbModel(train, "text", "lang")
    val base = Classify.nbClassBase(train, "doc_id", "text", "lang")
    val got = Classify.nbPredict(test, model, base, "doc_id", "text").collect()
    assert(got.length == 2) // exactly one argmax row per doc, no join dropout
    // both classes have equal priors (2 docs each) and equal token mass
    // (7 tokens), so def_w ties too — the argmax must fall back to the
    // deterministic label-ascending tie-break
    assert(got.forall(_.getString(1) == "fruit"))
  }

  test("nbPredict matches a by-hand integer score on a symmetric tie") {
    // "apple bolt": apple has cnt=3 in fruit, bolt has cnt=3 in tool, and
    // the two classes mirror each other exactly (2 docs, 7 tokens each),
    // so both class scores equal prior + 2*def_w + w(3) and the argmax
    // must take the label-ascending winner with exactly that score
    val test = Seq((30L, "apple bolt")).toDF("doc_id", "text")
    val model = Classify.nbModel(train, "text", "lang")
    val base = Classify.nbClassBase(train, "doc_id", "text", "lang")
    val r = Classify.nbPredict(test, model, base, "doc_id", "text").head()
    val w3 = math.round(1e6 * math.log((3 + 1.0) / (7 + 6))) -
      math.round(1e6 * math.log(1.0 / (7 + 6)))
    val prior = math.round(1e6 * math.log(2.0 / 4))
    val dw = math.round(1e6 * math.log(1.0 / 13))
    assert(r.getString(1) == "fruit")
    assert(r.getLong(2) == prior + 2 * dw + w3)
  }

  test("stored model predicts row-identically to training inline") {
    // the graded split on sf0.001: even doc_ids train, odd are scored;
    // frozen weights read back from parquet must reproduce every
    // (doc, pred, score) bit-for-bit
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val tr = docs.filter(col("doc_id") % 2 === 0)
    val te = docs.filter(col("doc_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("nbstore").toString
    Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    val (model, base) = Classify.readNbStore(spark, path)
    val inline = Classify.nbPredict(te,
      Classify.nbModel(tr, "text", "lang"),
      Classify.nbClassBase(tr, "doc_id", "text", "lang"),
      "doc_id", "text").collect().map(_.toSeq).toSet
    val stored = Classify.nbPredict(te, model, base, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(inline.nonEmpty && inline == stored)
  }

  test("forgetNbStoreAt unlearns tombstoned docs to EXACTLY the retrain " +
      "on survivors — weights, scalars, and predictions bit-for-bit") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val tr = docs.filter(col("doc_id") % 2 === 0)
    val te = docs.filter(col("doc_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("nbforget").toString
    Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    // tombstones arrive WITH content (the unlearning contract) — plus an
    // id never trained on, which the membership sidecar must ignore
    val tomb = tr.select(col("doc_id"), col("text"), col("lang"))
      .filter(col("doc_id") % 10 === 0)
      .unionByName(Seq((999999L, "never ingested", "en"))
        .toDF("doc_id", "text", "lang"))
    Classify.forgetNbStoreAt(spark, path, tomb, "doc_id", "text", "lang")
    val (model, base) = Classify.readNbStore(spark, path)
    val surv = tr.filter(col("doc_id") % 10 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(model) == rows(Classify.nbModel(surv, "text", "lang")))
    assert(rows(base) ==
      rows(Classify.nbClassBase(surv, "doc_id", "text", "lang")))
    val predF = Classify.nbPredict(te, model, base, "doc_id", "text")
    val predR = Classify.nbPredict(te, Classify.nbModel(surv, "text", "lang"),
      Classify.nbClassBase(surv, "doc_id", "text", "lang"), "doc_id", "text")
    assert(rows(predF).nonEmpty && rows(predF) == rows(predR))
    // idempotent: re-running the same forget is a no-op (membership gone)
    Classify.forgetNbStoreAt(spark, path, tomb, "doc_id", "text", "lang")
    val (model2, base2) = Classify.readNbStore(spark, path)
    assert(rows(model2) == rows(model) && rows(base2) == rows(base))
    // no marker left behind
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    assert(!marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker))
  }

  test("mergeNbStoreAt folds labeled batches to EXACTLY the retrain on the " +
      "union — including brand-new labels — and forget composes after") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val path = java.nio.file.Files.createTempDirectory("nbmerge").toString
    // first slice BUILDS; the second (with labels the first may lack)
    // merges; a third merges again — associativity through three arrivals
    Classify.mergeNbStoreAt(spark, path,
      docs.filter(col("doc_id") < 150), "doc_id", "text", "lang")
    Classify.mergeNbStoreAt(spark, path,
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 350),
      "doc_id", "text", "lang")
    Classify.mergeNbStoreAt(spark, path,
      docs.filter(col("doc_id") >= 350), "doc_id", "text", "lang")
    val (model, base) = Classify.readNbStore(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(model) == rows(Classify.nbModel(docs, "text", "lang")))
    assert(rows(base) ==
      rows(Classify.nbClassBase(docs, "doc_id", "text", "lang")))
    // unlearning composes on the merged store: forget ≡ retrain on
    // survivors (membership sidecar accumulated across the merges)
    val tomb = docs.filter(col("doc_id") % 9 === 4)
    Classify.forgetNbStoreAt(spark, path, tomb, "doc_id", "text", "lang")
    val surv = docs.filter(col("doc_id") % 9 =!= 4)
    val (m2, b2) = Classify.readNbStore(spark, path)
    assert(rows(m2) == rows(Classify.nbModel(surv, "text", "lang")))
    assert(rows(b2) ==
      rows(Classify.nbClassBase(surv, "doc_id", "text", "lang")))
  }

  test("NB store mutations use the FROZEN sidecar modulus from " +
      "_graft_layout, not the code constant") {
    // same rule as the winnow store: a store laid down under one
    // dbucket modulus must keep unlearning exactly after the constant
    // changes — merge and forget read the persisted count, or the
    // membership probe would look in the wrong directories and the
    // forget would silently no-op while the model keeps the counts
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val path = java.nio.file.Files.createTempDirectory("nbgeom").toString
    Classify.writeNbStore(docs.filter(col("doc_id") < 300),
      "doc_id", "text", "lang", path, docBuckets = 4)
    assert(Classify.nbLayoutAt(spark, path) == 4)
    Classify.mergeNbStoreAt(spark, path,
      docs.filter(col("doc_id") >= 300), "doc_id", "text", "lang")
    val maxD = spark.read.parquet(s"$path/docs")
      .agg(max(col("dbucket"))).head().getInt(0)
    assert(maxD < 4, s"merged sidecar rows escaped the frozen modulus: $maxD")
    val tomb = docs.filter(col("doc_id") % 9 === 4)
    Classify.forgetNbStoreAt(spark, path, tomb, "doc_id", "text", "lang")
    val surv = docs.filter(col("doc_id") % 9 =!= 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val (m2, b2) = Classify.readNbStore(spark, path)
    assert(rows(m2) == rows(Classify.nbModel(surv, "text", "lang")))
    assert(rows(b2) ==
      rows(Classify.nbClassBase(surv, "doc_id", "text", "lang")))
  }

  test("mergeNbStoreAt refuses a pre-sidecar store (base committed, no " +
      "membership sidecar) instead of creating a partial one") {
    // a model whose docs/ sidecar is missing predates the erasure
    // protocol: merging onto it would record ONLY the batch's ids, and a
    // later forget of historical train docs would silently no-op while
    // the model still carries their counts — the merge must refuse with
    // a rebuild instruction, leaving the store untouched
    val tr = Seq(
      (0L, "apple banana apple", "fruit"),
      (1L, "bolt nut washer", "tool")).toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files.createTempDirectory("nbpresidecar").toString
    Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    // simulate the pre-sidecar store: remove docs/ while base stays
    val docsP = new org.apache.hadoop.fs.Path(s"$path/docs")
    docsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(docsP, true)
    val before = spark.read.parquet(s"$path/model")
      .collect().map(_.toSeq).toSet
    val e = intercept[IllegalArgumentException] {
      Classify.mergeNbStoreAt(spark, path,
        Seq((2L, "cherry cherry", "fruit")).toDF("doc_id", "text", "lang"),
        "doc_id", "text", "lang")
    }
    assert(e.getMessage.contains("membership sidecar"), e.getMessage)
    val after = spark.read.parquet(s"$path/model")
      .collect().map(_.toSeq).toSet
    assert(after == before, "refused merge must not touch the model")
  }

  test("forgetNbStoreAt erases a whole class cleanly and refuses a marked " +
      "store") {
    val tr = Seq(
      (0L, "apple banana apple cherry", "fruit"),
      (1L, "banana banana apple", "fruit"),
      (2L, "bolt nut bolt washer", "tool"),
      (3L, "nut washer bolt", "tool")
    ).toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files.createTempDirectory("nbforgetall").toString
    Classify.writeNbStore(tr, "doc_id", "text", "lang", path)
    // erase EVERY tool doc: the class must vanish from both tables, and
    // the fruit weights must re-derive under the SHRUNK vocabulary
    // (v counts surviving terms only — a stale v would shift every llr)
    Classify.forgetNbStoreAt(spark, path,
      tr.filter(col("lang") === "tool"), "doc_id", "text", "lang")
    val (model, base) = Classify.readNbStore(spark, path)
    val surv = tr.filter(col("lang") === "fruit")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(model.filter(col("label") === "tool").count() == 0)
    assert(rows(model) == rows(Classify.nbModel(surv, "text", "lang")))
    assert(rows(base) ==
      rows(Classify.nbClassBase(surv, "doc_id", "text", "lang")))
    // a marked store refuses the forget loudly — and refuses the MERGE
    // before its build-vs-merge dispatch, even when the crash destroyed
    // the base commit signal the dispatch keys on
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, false).close()
    intercept[IllegalArgumentException] {
      Classify.forgetNbStoreAt(spark, path,
        tr.filter(col("doc_id") === 0L), "doc_id", "text", "lang")
    }
    fs.delete(new org.apache.hadoop.fs.Path(path, "base"), true)
    intercept[IllegalArgumentException] {
      Classify.mergeNbStoreAt(spark, path, tr, "doc_id", "text", "lang")
    }
  }
}

class RetrievalSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("linearFuse conventions: missing-leg zero, flat-list 1.0, alpha " +
      "extremes recover the single legs") {
    // hand-built legs over one query: sparse = {a: 10, b: 5, c: 0},
    // dense = {b: 0.9, d: 0.9} (flat list — both members are the leg's
    // best and normalize to 1.0)
    val sparse = Seq((1L, "a", 10.0), (1L, "b", 5.0), (1L, "c", 0.0))
      .toDF("q_id", "doc", "score")
    val dense = Seq((1L, "b", 0.9), (1L, "d", 0.9))
      .toDF("q_id", "doc", "score")
    def fuse(alpha: Double) =
      Retrieval.linearFuse(sparse, dense, "doc", alpha = alpha)
        .collect().map(r => (r.getString(2), r.getInt(1), r.getLong(3)))
        .sortBy(_._2)
    // alpha = 0.5: a gets 0.5·1.0 = 500000; b gets 0.5·0.5 + 0.5·1.0 =
    // 750000; c gets 0 from sparse min and nothing from dense; d gets
    // 0.5·1.0 = 500000 → order b, a (id tie-break over d), d, c
    assert(fuse(0.5).toSeq == Seq(("b", 1, 750000L), ("a", 2, 500000L),
      ("d", 3, 500000L), ("c", 4, 0L)))
    // alpha = 0: the dense leg contributes NOTHING — order is the sparse
    // normalized ranking, dense-only docs trail at zero with id ties
    assert(fuse(0.0).toSeq == Seq(("a", 1, 1000000L), ("b", 2, 500000L),
      ("c", 3, 0L), ("d", 4, 0L)))
    // alpha = 1: only the dense leg scores; its flat list normalizes to
    // 1.0 apiece (the all-equal guard), sparse-only docs trail at zero
    assert(fuse(1.0).toSeq == Seq(("b", 1, 1000000L), ("d", 2, 1000000L),
      ("a", 3, 0L), ("c", 4, 0L)))
    // out-of-range alpha refuses
    intercept[IllegalArgumentException] {
      Retrieval.linearFuse(sparse, dense, "doc", alpha = 1.5)
    }
  }

  private val corpus = Seq(
    (0L, "spark shuffle join"),
    (1L, "spark spark spark shuffle"),          // densest in 'spark'
    (2L, "gradient descent optimizer"),
    (3L, "spark"),                               // short doc, max tf-norm
    (4L, "the the the the the the the the")      // common-term spam
  ).toDF("doc_id", "text")

  private def run(q: String) =
    Retrieval.bm25TopK(corpus, Seq((100L, q)).toDF("q_id", "qt"),
        "doc_id", "text", "q_id", "qt")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))

  test("bm25 ranks term-dense docs first and never returns non-matching docs") {
    val got = run("spark")
    assert(got.map(_._2).toSet == Set(0L, 1L, 3L)) // docs 2 and 4 never match
    // doc 1 (tf=3) wins: its saturation 6.6/4.247 beats doc 3's 2.2/1.537
    // (tf=1 at minimal length) — raw term density outweighs the length
    // penalty at these sizes; single-occurrence doc 0 trails both
    assert(got.sortBy(_._1).map(_._2).toList == List(1L, 3L, 0L))
    // scores strictly decrease down the ranking
    assert(got.sortBy(_._1).map(_._3).sliding(2).forall(p => p(0) > p(1)))
  }

  test("bm25 multi-term queries sum per-term contributions exactly") {
    val one = run("spark").map(t => t._2 -> t._3).toMap
    val two = run("descent").map(t => t._2 -> t._3).toMap
    val both = run("spark descent").map(t => t._2 -> t._3).toMap
    // integer fixed-point: the combined score IS the integer sum of the
    // single-term scores, doc by doc (no float drift across terms)
    both.foreach { case (d, s) =>
      assert(s == one.getOrElse(d, 0L) + two.getOrElse(d, 0L), s"doc $d")
    }
    assert(both.keySet == one.keySet ++ two.keySet)
  }

  test("bm25 query-side multiplicity is ignored (term sets)") {
    assert(run("spark spark spark").toList == run("spark").toList)
  }

  test("stored postings score row-identically to the inline build") {
    // write-once index on sf0.001 documents, then the graded shape:
    // first five docs as queries, top-10 each — every (q, rnk, doc,
    // score) row must equal the inline spelling bit-for-bit
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val queries = docs.filter(col("doc_id") < 5)
    val path = java.nio.file.Files
      .createTempDirectory("bm25store").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 4)
    val store = Retrieval.readBm25Store(spark, path)
    // store carries exact integers: n_docs counts ALL docs, tot = sum tf
    val st = store.stats.collect()(0)
    assert(st.getLong(0) == docs.count())
    val inline = Retrieval.bm25TopK(docs, queries,
      "doc_id", "text", "doc_id", "text").collect().map(_.toSeq).toSeq
    val stored = Retrieval.bm25TopKStored(store, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSeq
    assert(inline.nonEmpty && inline.toSet == stored.toSet)
  }

  test("bm25ApplyDelta merges a batch to exactly the rebuilt index") {
    // store = docs < 250, batch = docs >= 250: merged components must
    // equal a from-scratch build on the full corpus row for row —
    // postings, df table, AND the global stats
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("bm25delta").toString
    Retrieval.writeBm25Store(docs.filter(col("doc_id") < 250),
      "doc_id", "text", path, buckets = 4)
    val merged = Retrieval.bm25ApplyDelta(Retrieval.readBm25Store(spark, path),
      docs.filter(col("doc_id") >= 250), "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.postings) ==
      rows(Retrieval.postingsRaw(docs, "doc_id", "text")))
    assert(rows(merged.dfreq) ==
      rows(Retrieval.dfreqOf(Retrieval.postingsRaw(docs, "doc_id", "text"))))
    assert(rows(merged.stats) ==
      rows(Retrieval.corpusStats(docs,
        Retrieval.postingsRaw(docs, "doc_id", "text"))))
  }

  test("mergeBm25StoreAt persists a merge identical to a from-scratch store") {
    // the bm25-index sink's steady-state path: store on disk holds docs
    // < 250, the >= 250 batch merges IN PLACE (postings append, df/stats
    // replaced) — re-reading the directory afterwards must equal a
    // rebuild on the full corpus, component by component, and the stored
    // ranking must equal the inline one
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25mergeat").toString
    Retrieval.writeBm25Store(docs.filter(col("doc_id") < 250),
      "doc_id", "text", path, buckets = 4)
    Retrieval.mergeBm25StoreAt(spark, path,
      docs.filter(col("doc_id") >= 250), "doc_id", "text", buckets = 4)
    val merged = Retrieval.readBm25Store(spark, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.postings) ==
      rows(Retrieval.postingsRaw(docs, "doc_id", "text")))
    assert(rows(merged.dfreq) ==
      rows(Retrieval.dfreqOf(Retrieval.postingsRaw(docs, "doc_id", "text"))))
    assert(rows(merged.stats) ==
      rows(Retrieval.corpusStats(docs,
        Retrieval.postingsRaw(docs, "doc_id", "text"))))
    val queries = docs.filter(col("doc_id") < 5)
    val stored = Retrieval.bm25TopKStored(merged, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSet
    val inline = Retrieval.bm25TopK(docs, queries,
      "doc_id", "text", "doc_id", "text").collect().map(_.toSeq).toSet
    assert(stored.nonEmpty && stored == inline)
  }

  private def storeRows(st: Retrieval.Bm25Store) = (
    st.postings.collect().map(_.toSeq).toSet,
    st.dfreq.collect().map(_.toSeq).toSet,
    st.stats.collect().map(_.toSeq).toSet)

  test("forgetBm25StoreAt compacts to exactly the rebuilt-on-survivors " +
      "store, zero-token docs included") {
    // corpus carries a ZERO-TOKEN doc (no postings rows, but it counts
    // in n_docs and dilutes avgdl) — tombstoning it must decrement
    // n_docs exactly, which only the id sidecar can know
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, "   ")).toDF("doc_id", "text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25forget").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 4)
    val tomb = docs.filter(col("doc_id") % 7 === 3 ||
      col("doc_id") === 900001L).select(col("doc_id"))
    Retrieval.forgetBm25StoreAt(spark, path, tomb, "doc_id")
    val survivors = docs.filter(col("doc_id") % 7 =!= 3 &&
      col("doc_id") =!= 900001L)
    val rbPath = java.nio.file.Files
      .createTempDirectory("bm25forget_rb").toString
    Retrieval.writeBm25Store(survivors, "doc_id", "text", rbPath, buckets = 4)
    assert(storeRows(Retrieval.readBm25Store(spark, path)) ==
      storeRows(Retrieval.readBm25Store(spark, rbPath)))
    // a second forget with the same (and some never-ingested) ids no-ops
    val before = storeRows(Retrieval.readBm25Store(spark, path))
    Retrieval.forgetBm25StoreAt(spark, path,
      tomb.unionByName(Seq(123456789L).toDF("doc_id")), "doc_id")
    assert(storeRows(Retrieval.readBm25Store(spark, path)) == before)
    // no marker left behind by a completed forget
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    assert(!marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker))
  }

  test("forget drops fully-erased terms from the vocabulary and a fully " +
      "erased store stays readable and mergeable") {
    val docs = Seq((1L, "aardwolf runs"), (2L, "ducks swim"),
      (3L, "ducks fly")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25forgetall").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 4)
    // doc 1 is the ONLY holder of 'aardwolf'/'runs': erasing it must
    // remove those terms from dfreq (a rebuild would not carry them)
    Retrieval.forgetBm25StoreAt(spark, path,
      Seq(1L).toDF("doc_id"), "doc_id")
    val afterOne = Retrieval.readBm25Store(spark, path)
    assert(afterOne.dfreq.filter(col("term").isin("aardwolf", "runs"))
      .count() == 0)
    // erase everything: the store must stay readable (zero rows, exact
    // zero stats), and a later merge must land on clean zeros
    Retrieval.forgetBm25StoreAt(spark, path,
      Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val empty = Retrieval.readBm25Store(spark, path)
    assert(empty.postings.count() == 0 && empty.dfreq.count() == 0)
    assert(empty.stats.collect()(0).toSeq == Seq(0L, 0L))
    Retrieval.mergeBm25StoreAt(spark, path,
      Seq((9L, "ducks swim")).toDF("doc_id", "text"), "doc_id", "text",
      buckets = 4)
    val reborn = Retrieval.readBm25Store(spark, path)
    assert(reborn.stats.collect()(0).toSeq == Seq(1L, 2L))
    assert(reborn.postings.count() == 2)
  }

  test("the forget finder reads only the tombstoned docs' own postings " +
      "buckets, and pre-tbuckets sidecars fall back to the full scan") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25tbuckets").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 8)
    // the sidecar carries each doc's distinct postings-bucket list, and
    // it matches what the postings actually hold for that doc
    val side = spark.read.parquet(s"$path/docs")
    assert(side.columns.contains("tbuckets"))
    val fromSide = side.filter(col("doc_id") === 3L)
      .select(explode(col("tbuckets")).as("b")).collect()
      .map(_.getInt(0)).toSet
    val fromPost = spark.read.parquet(s"$path/postings")
      .filter(col("doc_id") === 3L)
      .select(col("bucket").cast("int")).distinct().collect()
      .map(_.getInt(0)).toSet
    assert(fromSide == fromPost && fromSide.nonEmpty)
    // legacy store shape: rewrite the sidecar WITHOUT tbuckets — the
    // forget must fall back to the unpruned scan and stay exact
    val legacy = side.drop("tbuckets").localCheckpoint()
    legacy.write.mode("overwrite").partitionBy("dbucket")
      .parquet(s"$path/docs")
    // ...then MERGE a batch with the NEW code: the sidecar is now MIXED
    // (legacy rows read tbuckets = null under the merged schema).
    // Forgetting a LEGACY doc must fall back to the full scan — pruning
    // off the null-dropped explode would silently leave its postings
    // behind while still decrementing n_docs
    Retrieval.mergeBm25StoreAt(spark, path,
      Seq((900100L, "merged ducks paddle")).toDF("doc_id", "text"),
      "doc_id", "text", buckets = 8)
    val tomb = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    Retrieval.forgetBm25StoreAt(spark, path, tomb, "doc_id")
    val rbPath = java.nio.file.Files
      .createTempDirectory("bm25tbuckets_rb").toString
    Retrieval.writeBm25Store(
      docs.filter(col("doc_id") % 7 =!= 3).unionByName(
        Seq((900100L, "merged ducks paddle")).toDF("doc_id", "text")),
      "doc_id", "text", rbPath, buckets = 8)
    def pdf(p: String) = (
      spark.read.parquet(s"$p/postings").drop("bucket").collect()
        .map(_.toSeq).toSet,
      spark.read.parquet(s"$p/dfreq").collect().map(_.toSeq).toSet,
      spark.read.parquet(s"$p/stats").collect().map(_.toSeq).toSet)
    assert(pdf(path) == pdf(rbPath))
  }

  test("a direct library merge refuses a store left marked by a crashed " +
      "mutation, and leaves no marker itself on success") {
    val docs = Seq((1L, "ducks swim"), (2L, "ponds shine"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25mergemark").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 2)
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, false).close()
    // plain and fielded merges refuse WITHOUT the sink wrapper — a crashed
    // forget's marker must stop direct library merges too
    intercept[IllegalArgumentException] {
      Retrieval.mergeBm25StoreAt(spark, path,
        Seq((3L, "more ducks")).toDF("doc_id", "text"), "doc_id", "text",
        buckets = 2)
    }
    val fpath = java.nio.file.Files
      .createTempDirectory("bm25fmergemark").toString
    Retrieval.writeBm25fStore(docs, "doc_id", "text", fpath, buckets = 2)
    val fmarker = new org.apache.hadoop.fs.Path(fpath, "_graft_merge_pending")
    fs.create(fmarker, false).close()
    intercept[IllegalArgumentException] {
      Retrieval.mergeBm25StoreAt(spark, fpath,
        Seq((3L, "more ducks")).toDF("doc_id", "text"), "doc_id", "text",
        buckets = 2, fielded = true)
    }
    // cleared marker: the merge runs and releases its own marker after
    fs.delete(marker, false)
    Retrieval.mergeBm25StoreAt(spark, path,
      Seq((3L, "more ducks")).toDF("doc_id", "text"), "doc_id", "text",
      buckets = 2)
    assert(!fs.exists(marker))
    assert(Retrieval.readBm25Store(spark, path).stats
      .collect()(0).getLong(0) == 3L)
  }

  test("forgetBm25StoreAt on a fielded store equals the fielded rebuild") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25fforget").toString
    Retrieval.writeBm25fStore(docs, "doc_id", "text", path,
      titleTokens = 8, buckets = 4)
    Retrieval.forgetBm25StoreAt(spark, path,
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), "doc_id")
    val rbPath = java.nio.file.Files
      .createTempDirectory("bm25fforget_rb").toString
    Retrieval.writeBm25fStore(docs.filter(col("doc_id") % 7 =!= 3),
      "doc_id", "text", rbPath, titleTokens = 8, buckets = 4)
    def rows(st: Retrieval.Bm25fStore) = (
      st.postings.collect().map(_.toSeq).toSet,
      st.stats.collect().map(_.toSeq).toSet)
    assert(rows(Retrieval.readBm25fStore(spark, path)) ==
      rows(Retrieval.readBm25fStore(spark, rbPath)))
  }

  test("forgetBm25ChunkStoreAt erases every chunk of the tombstoned " +
      "parents via the sidecar, reading no postings to find them") {
    val bits = 20
    val docs = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
      .toDF("doc_id", "text")
    // two chunks per doc, cid = doc_id·2^20 + chunk
    val cids = docs.select(
      (shiftleft(col("doc_id"), bits) + lit(0)).as("cid"),
      col("text")).unionByName(docs.select(
      (shiftleft(col("doc_id"), bits) + lit(1)).as("cid"),
      substring(col("text"), 1, 3).as("text")))
    val path = java.nio.file.Files
      .createTempDirectory("bm25chunkforget").toString
    Retrieval.writeBm25Store(cids, "cid", "text", path, buckets = 4)
    Retrieval.forgetBm25ChunkStoreAt(spark, path,
      Seq(2L).toDF("doc_id"), "doc_id", chunkIdBits = bits)
    val left = Retrieval.readBm25Store(spark, path)
    assert(left.postings.filter(shiftright(col("cid"), bits) === 2L)
      .count() == 0)
    assert(left.stats.collect()(0).getLong(0) == 4L) // 6 cids - doc 2's 2
    assert(spark.read.parquet(s"$path/docs")
      .filter(shiftright(col("cid"), bits) === 2L).count() == 0)
  }

  test("merges append under the STORE's frozen bucket modulus, so a " +
      "mis-parameterized merge stays fully retrievable") {
    val docs = Seq((1L, "spark shuffles"), (2L, "ducks swim"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25bucketwin").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 8)
    // caller passes the WRONG modulus — the frozen _graft_layout wins,
    // or the pruned (bucket, term) query join would never match the
    // merged rows
    Retrieval.mergeBm25StoreAt(spark, path,
      Seq((3L, "ponds reflect")).toDF("doc_id", "text"),
      "doc_id", "text", buckets = 3)
    val got = Retrieval.bm25TopKStored(Retrieval.readBm25Store(spark, path),
        Seq((9L, "ponds")).toDF("q", "qt"), "doc_id", "q", "qt")
      .collect()
    assert(got.length == 1 && got(0).getLong(2) == 3L,
      s"merged doc unretrievable: ${got.mkString(",")}")
  }

  test("a stale pending marker refuses forget and merge loudly") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25forgetmark").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 2)
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    intercept[IllegalArgumentException] {
      Retrieval.forgetBm25StoreAt(spark, path,
        Seq(1L).toDF("doc_id"), "doc_id")
    }
    fs.delete(marker, false)
    Retrieval.forgetBm25StoreAt(spark, path,
      Seq(1L).toDF("doc_id"), "doc_id")
    assert(Retrieval.readBm25Store(spark, path).stats
      .collect()(0).getLong(0) == 1L)
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("winnowing guarantee: a shared run of w+k-1 tokens yields a shared fingerprint") {
    // docs 1 and 2 share exactly a 7-token run (w+k-1 = 7 at k=4, w=4)
    // embedded in otherwise-disjoint text; doc 3 shares nothing
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"red blue $shared green yellow purple orange"),
      (3L, "completely different words in this document here okay then")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // selection actually thins: fewer fingerprints than full windows
    val nGrams = 10 + 3 // doc 1: 13 tokens -> 10 shingles, 7 full windows
    assert(fps(1L).size < nGrams)
  }

  test("winnowMatches finds sharing pairs; a binding cap is loud and only drops") {
    // run X is shared by docs 1 and 2 only (bucket size 2); run Y by docs
    // 1, 2 AND 3 (bucket size 3) — with maxBucketSize = 2 the Y buckets
    // drop (losing pairs touching doc 3) while the X pair survives
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val y = "rho sigma tau upsilon phi chi psi omega mu nu"
    val docs = Seq(
      (1L, s"one two three $x lambda $y"),
      (2L, s"$x four five six seven eight nine ten $y"),
      (3L, s"completely different words go here okay $y then more")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.winnowMatches(docs, "doc_id", "text", minShared = 1))
    assert(exact == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"exact=$exact")
    val obs = new org.apache.spark.sql.Observation("winnow-drop-audit")
    val capped = pairs(Dedup.winnowMatches(docs, "doc_id", "text",
      minShared = 1, maxBucketSize = 2, dropAudit = Some(obs)))
    assert(capped == Set((1L, 2L)), s"capped=$capped")
    assert(capped.subsetOf(exact)) // a cap only ever LOSES pairs
    val m = obs.get
    assert(m("dropped_buckets").asInstanceOf[Long] >= 1L, m)
    assert(m("max_bucket_size").asInstanceOf[Int] == 3, m)
  }

  test("docs shorter than w+k-1 tokens emit no fingerprints") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(docs, "doc_id", "text").count() == 0)
  }

  test("winnowIngest: copied spans rejected, fresh docs pass, split-invariant") {
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hist = Seq((1L, s"one two three $copied four five six"))
      .toDF("doc_id", "text")
    val index = Dedup.winnowFingerprints(hist, "doc_id", "text")
      .select(col("fp")).distinct()
    val batch = Seq(
      (10L, s"intro words then $copied and an outro here"), // span reuse
      (11L, "totally novel content with new words only in this doc okay then")
    ).toDF("doc_id", "text")
    val survivors = Dedup.winnowIngest(batch, index, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(11L), survivors)
    // batch-split invariance: per-doc decision depends only on the index
    val oneByOne = batch.collect().map(_.getLong(0)).flatMap { id =>
      Dedup.winnowIngest(batch.filter(col("doc_id") === id), index,
        "doc_id", "text").collect().map(_.getLong(0))
    }.toSet
    assert(oneByOne == survivors)
  }

  test("winnow store forget ≡ rebuild on survivors, and the gate STOPS " +
      "rejecting resubmissions whose only match was erased content") {
    // the GDPR obligation the distinct-fp layout could not meet: after
    // erasing doc 1, a batch doc that plagiarizes ONLY doc 1 must pass
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val keeper = "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val hist = Seq(
      (1L, s"one two three $copied four five six"),
      (2L, s"seven eight nine $keeper ten eleven twelve"),
      (3L, s"unrelated historical words entirely novel here okay then $keeper")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("winnowstore").toString
    Dedup.writeWinnowStoreAt(spark, path, hist, "doc_id", "text")
    val batch = Seq((10L, s"intro words then $copied and an outro here"))
      .toDF("doc_id", "text")
    // pre-forget: the plagiarized span rejects the batch doc
    assert(Dedup.winnowIngest(batch, Dedup.readWinnowStoreFps(spark, path),
      "doc_id", "text").count() == 0)
    // forget doc 1 — delivered as INTs (the type-drift shape) plus a
    // never-ingested id the attribution sidecar must ignore
    Dedup.forgetWinnowStoreAt(spark, path,
      Seq(1, 999).toDF("doc_id")
        .select(col("doc_id").cast("int").as("doc_id")), "doc_id")
    // the gate passes the resubmission now
    assert(Dedup.winnowIngest(batch, Dedup.readWinnowStoreFps(spark, path),
        "doc_id", "text").collect().map(_.getLong(0)).toSet == Set(10L))
    // forget ≡ rebuild, refcounts included (docs 2 and 3 SHARE the
    // keeper span — its fps must still carry refs = 2)
    val rbPath = java.nio.file.Files
      .createTempDirectory("winnowstore_rb").toString
    Dedup.writeWinnowStoreAt(spark, rbPath,
      hist.filter(col("doc_id") =!= 1L), "doc_id", "text")
    def rows(p: String, table: String) =
      spark.read.parquet(s"$p/$table").collect().map(_.toSeq).toSet
    assert(rows(path, "fps") == rows(rbPath, "fps"))
    assert(rows(path, "docs") == rows(rbPath, "docs"))
    assert(spark.read.parquet(s"$path/fps").filter(col("refs") === 2L)
      .count() > 0, "shared fps must survive with decremented refcounts")
    // idempotent re-run, and no marker left behind
    Dedup.forgetWinnowStoreAt(spark, path, Seq(1L).toDF("doc_id"), "doc_id")
    assert(rows(path, "fps") == rows(rbPath, "fps"))
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    assert(!marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker))
    // a marked store refuses loudly
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, false).close()
    intercept[IllegalArgumentException] {
      Dedup.forgetWinnowStoreAt(spark, path, Seq(2L).toDF("doc_id"),
        "doc_id")
    }
  }

  test("winnow store mutations use the FROZEN bucket geometry from " +
      "_graft_layout, not the code constants") {
    // a store laid down under one directory modulus must keep pruning
    // correctly after the code constants change (the obvious dial when
    // stores grow): build under NON-default moduli — every mutation must
    // read the persisted counts back, or it would prune the wrong
    // directories (missed decrements, silent refcount corruption)
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val hist = Seq(
      (1L, s"one two three $copied four five six"),
      (2L, "totally different historical content goes here okay then right"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("winnowgeom").toString
    Dedup.writeWinnowStoreAt(spark, path, hist, "doc_id", "text",
      fpBuckets = 8, docBuckets = 4)
    assert(Dedup.winnowLayoutAt(spark, path) == ((4, 4, 8, 4)))
    // merged rows must land in the FROZEN 8/4 geometry
    val batch = Seq((3L, s"intro words then $copied and an outro here"))
      .toDF("doc_id", "text")
    Dedup.mergeWinnowStoreAt(spark, path, batch, "doc_id", "text")
    val maxF = spark.read.parquet(s"$path/fps")
      .agg(max(col("fbucket"))).head().getInt(0)
    val maxD = spark.read.parquet(s"$path/docs")
      .agg(max(col("dbucket"))).head().getInt(0)
    assert(maxF < 8 && maxD < 4, s"maxF=$maxF maxD=$maxD")
    // erasure prunes through the frozen geometry: forget ≡ rebuild on
    // survivors under the SAME moduli (doc 3 shares the copied span with
    // doc 1, so its fps decrement 2 → 1 — a wrong-directory probe would
    // miss them entirely)
    Dedup.forgetWinnowStoreAt(spark, path, Seq(1L).toDF("doc_id"), "doc_id")
    val rb = java.nio.file.Files.createTempDirectory("winnowgeom_rb").toString
    Dedup.writeWinnowStoreAt(spark, rb,
      hist.filter(col("doc_id") =!= 1L).unionByName(batch),
      "doc_id", "text", fpBuckets = 8, docBuckets = 4)
    def rows(p: String, table: String) =
      spark.read.parquet(s"$p/$table").collect().map(_.toSeq).toSet
    assert(rows(path, "fps") == rows(rb, "fps"))
    assert(rows(path, "docs") == rows(rb, "docs"))
  }

  test("winnow store guards: zero-fingerprint builds leave the path " +
      "untouched, k/w mismatches refuse, and a marked store refuses the " +
      "merge dispatch") {
    val path = java.nio.file.Files.createTempDirectory("winnowguard").toString
    // every doc under w+k-1 tokens → no fingerprints → NO store (a
    // partitionBy of zero rows would write _SUCCESS with no data files
    // and brick every later read)
    val short = Seq((1L, "too few tokens"), (2L, "also short"))
      .toDF("doc_id", "text")
    Dedup.writeWinnowStoreAt(spark, path, short, "doc_id", "text")
    assert(!Dedup.winnowStoreExistsAt(spark, path))
    Dedup.mergeWinnowStoreAt(spark, path, short, "doc_id", "text")
    assert(!Dedup.winnowStoreExistsAt(spark, path))
    // a later batch with real fingerprints builds normally
    val real = Seq((3L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    Dedup.mergeWinnowStoreAt(spark, path, real, "doc_id", "text")
    assert(Dedup.winnowStoreExistsAt(spark, path))
    // mixed winnowing geometry refuses loudly (merge AND gate-side check)
    intercept[IllegalArgumentException] {
      Dedup.mergeWinnowStoreAt(spark, path, real, "doc_id", "text",
        k = 5, w = 4)
    }
    intercept[IllegalArgumentException] {
      Dedup.requireWinnowLayout(spark, path, k = 4, w = 8)
    }
    // a marked store refuses the merge BEFORE the build-vs-merge
    // dispatch (a crashed mutation may have destroyed the fps commit
    // signal, and the build branch would overwrite the refcounts)
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, false).close()
    intercept[IllegalArgumentException] {
      Dedup.mergeWinnowStoreAt(spark, path, real, "doc_id", "text")
    }
  }

  test("mergeWinnowStoreAt folds batches to exactly a write-all store, " +
      "batch-split invariant, and forget composes after merges") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("winnowmerge").toString
    // three arrival slices merge one at a time (first builds)
    Dedup.mergeWinnowStoreAt(spark, path,
      docs.filter(col("doc_id") < 150), "doc_id", "text")
    Dedup.mergeWinnowStoreAt(spark, path,
      docs.filter(col("doc_id") >= 150 && col("doc_id") < 300),
      "doc_id", "text")
    Dedup.mergeWinnowStoreAt(spark, path,
      docs.filter(col("doc_id") >= 300), "doc_id", "text")
    val rbPath = java.nio.file.Files
      .createTempDirectory("winnowmerge_rb").toString
    Dedup.writeWinnowStoreAt(spark, rbPath, docs, "doc_id", "text")
    def rows(p: String, t: String) =
      spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSet
    assert(rows(path, "fps") == rows(rbPath, "fps"))
    assert(rows(path, "docs") == rows(rbPath, "docs"))
    // erasure composes on the merged store: forget ≡ rebuild-on-survivors
    val tomb = docs.filter(col("doc_id") % 11 === 5).select(col("doc_id"))
    Dedup.forgetWinnowStoreAt(spark, path, tomb, "doc_id")
    val rb2 = java.nio.file.Files
      .createTempDirectory("winnowmerge_rb2").toString
    Dedup.writeWinnowStoreAt(spark, rb2,
      docs.filter(col("doc_id") % 11 =!= 5), "doc_id", "text")
    assert(rows(path, "fps") == rows(rb2, "fps"))
    assert(rows(path, "docs") == rows(rb2, "docs"))
  }
}

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.functions.MisraGriesSketch
  import graft.operators.HeavyHitters

  // skewed stream: "hot" 40x, "warm" 12x, 100 distinct singletons
  private def stream: Seq[String] =
    Seq.fill(40)("hot") ++ Seq.fill(12)("warm") ++ (1 to 100).map(i => s"tail$i")

  test("misra-gries guarantee: count within N/(k+1) of truth, heavies present") {
    val n = stream.size
    val k = 10
    val df = spark.sparkContext.parallelize(stream, 7).toDF("term")
    val sk = df.agg(MisraGriesSketch(col("term"), k)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.size <= k)
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every stored counter is a lower bound within N/(k+1)
    sk.foreach { case (t, c) =>
      assert(c <= truth(t), s"$t overcounted: $c > ${truth(t)}")
      assert(c >= truth(t) - n.toDouble / (k + 1), s"$t undercounted: $c")
    }
    // anything with freq > N/(k+1) = 13.8 must be present
    assert(sk.contains("hot") && sk.contains("warm"))
  }

  test("sketch result is partitioning-invariant enough for candidacy") {
    // different partition counts give different counters, but the
    // completeness guarantee holds for each
    for (parts <- Seq(1, 3, 13)) {
      val df = spark.sparkContext.parallelize(stream, parts).toDF("term")
      val sk = df.agg(MisraGriesSketch(col("term"), 10)).head()
        .getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)).toSet
      assert(sk.contains("hot") && sk.contains("warm"), s"parts=$parts: $sk")
    }
  }

  test("exact heavy hitters equal the naive groupBy-HAVING answer") {
    val df = spark.sparkContext.parallelize(stream, 5).toDF("term")
    val share = 0.05 // threshold ceil(0.05*152)=8 > 152/11=13.8? no: k=31
    val got = HeavyHitters.exact(df, "term", share, k = 31)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val thr = math.ceil(share * stream.size).toLong
    val want = stream.groupBy(identity).collect {
      case (t, xs) if xs.size >= thr => (t, xs.size.toLong)
    }.toSet
    assert(got == want)
  }

  test("per-group exact heavy hitters equal the per-group naive answer") {
    val data = Seq.fill(30)(("en", "the")) ++ Seq.fill(4)(("en", "x")) ++
      (1 to 40).map(i => ("en", s"t$i")) ++
      Seq.fill(20)(("de", "der")) ++ (1 to 10).map(i => ("de", s"d$i"))
    val df = spark.sparkContext.parallelize(data, 5).toDF("lang", "term")
    val share = 0.1 // k=31 -> thr > n_g/32 for both groups
    val got = HeavyHitters.exactPerGroup(df, "lang", "term", share, k = 31)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSet
    val want = data.groupBy(identity).collect {
      case ((g, t), xs) if xs.size >=
        math.ceil(share * data.count(_._1 == g)).toLong => ((g, t), xs.size.toLong)
    }.toSet
    assert(got == want, s"got=$got want=$want")
    // the big groups survive, the tails don't
    assert(got.contains((("en", "the"), 30L)) && got.contains((("de", "der"), 20L)))
    assert(!got.exists(_._1._2 == "x"))
  }

  test("per-group heavy hitters: int and null group keys are real groups") {
    // group column is an INT with nulls — the cast-to-string contract:
    // both must survive, the null group null-safely joined, not dropped
    val data: Seq[(java.lang.Integer, String)] =
      Seq.fill(20)((Int.box(7), "a")) ++ (1 to 10).map(i => (Int.box(7), s"t$i")) ++
      Seq.fill(15)((null: java.lang.Integer, "b")) ++
      (1 to 5).map(i => (null: java.lang.Integer, s"n$i"))
    val df = spark.sparkContext.parallelize(data, 4).toDF("g", "term")
    val got = HeavyHitters.exactPerGroup(df, "g", "term", 0.2, k = 31)
      .collect().map(r => ((Option(r.getString(0)), r.getString(1)), r.getLong(2))).toSet
    assert(got == Set(((Some("7"), "a"), 20L), ((None, "b"), 15L)))
  }

  test("exact() refuses an unsound threshold/k pairing") {
    val df = Seq.fill(100)("x").toDF("term")
    // thr = 1 <= N/(k+1) = 33.3 -> the guarantee does not hold -> loud
    intercept[IllegalArgumentException] {
      HeavyHitters.exact(df, "term", minShare = 0.01, k = 2).collect()
    }
  }

  test("empty input yields empty result, null terms are skipped") {
    val empty = Seq.empty[String].toDF("term")
    assert(HeavyHitters.exact(empty, "term", 0.01, k = 256).count() == 0)
    val withNulls = Seq(Some("a"), None, Some("a"), None, Some("b"))
      .toDF("term")
    val sk = withNulls.agg(MisraGriesSketch(col("term"), 4)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk == Map("a" -> 2L, "b" -> 1L))
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  // two well-separated centroids on axes; cluster members are small
  // perturbations so assignment is unambiguous
  private val centroids = Seq(
    Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))

  private def df = Seq(
    // cluster 0: ids 10, 11 near-identical (cos ~ 1), 12 distinct
    (10L, Seq(1.0, 0.02, 0.0, 0.0)),
    (11L, Seq(1.0, 0.021, 0.0, 0.0)),
    (12L, Seq(1.0, 0.0, 0.9, 0.0)),
    // cluster 1: lone member
    (20L, Seq(0.0, 1.0, 0.0, 0.1))
  ).toDF("vec_id", "embedding")

  test("semDedup keeps the least-prototypical member of a duplicate group") {
    val kept = Similarity.semDedup(df, "vec_id", "embedding", centroids,
      eps = 0.999).collect().map(_.getLong(0)).toSet
    // 10 and 11 are semantic dups; 12 (cos to centroid lower than both)
    // outranks them, 10 vs 11: the one with LOWER centroid-cosine keeps.
    // cos(10, c0) < cos(11, c0)? perturbation 0.02 < 0.021 -> 11 is
    // farther from the centroid -> higher priority -> 11 kept, 10 dropped
    assert(kept.contains(12L) && kept.contains(20L))
    assert((kept & Set(10L, 11L)).size == 1, s"kept=$kept")
    // lower eps folds 12 into the dup group too: only 1 survivor per cluster
    val tight = Similarity.semDedup(df, "vec_id", "embedding", centroids,
      eps = 0.5).collect().map(_.getLong(0)).toSet
    assert(tight.size == 2 && tight.contains(20L))
  }

  test("binding cluster cap skips checking (keeps all) and is loud") {
    val obs = new org.apache.spark.sql.Observation("semdedup-audit")
    val kept = Similarity.semDedup(df, "vec_id", "embedding", centroids,
      eps = 0.999, maxClusterSize = 2, dropAudit = Some(obs))
      .collect().map(_.getLong(0)).toSet
    // cluster 0 has 3 members > cap -> untouched; cluster 1 within cap
    assert(kept == Set(10L, 11L, 12L, 20L))
    val m = obs.get
    assert(m("skipped_clusters").asInstanceOf[Long] == 1L, m)
    assert(m("max_cluster_size").asInstanceOf[Long] == 3L, m)
    // uncapped keepers are a subset of capped keepers (cap only keeps MORE)
    val uncapped = Similarity.semDedup(df, "vec_id", "embedding", centroids,
      eps = 0.999).collect().map(_.getLong(0)).toSet
    assert(uncapped.subsetOf(kept))
  }
}

class CharEntropySpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.TextAnalysis

  private def h(texts: String*): Seq[(String, Long, Double)] = {
    val df = texts.toDF("text")
      .select(col("text"), length(col("text")).as("n"),
        TextAnalysis.charEntropyMilli(col("text")).as("h"))
      .select(col("text"), col("h"),
        TextAnalysis.bitsPerChar(col("h"), col("n")).as("bpc"))
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("entropy: constant string 0, uniform alphabet maximal, empty 0") {
    val rs = h("aaaaaaaa", "abcdefgh", "", "aabb")
    val m = rs.map(r => r._1 -> r).toMap
    assert(m("aaaaaaaa")._2 == 0L && m("aaaaaaaa")._3 == 0.0)
    // 8 distinct chars over 8 positions: H = ln 8 -> 3 bits/char
    assert(m("abcdefgh")._3 == 3.0)
    assert(m("")._2 == 0L && m("")._3 == 0.0)
    // 2 classes, equal mass: 1 bit/char; L·H·1e6 = 4·ln2·1e6 rounded terms
    assert(m("aabb")._3 == 1.0)
    // exact fixed point: round(1e6·4·ln4) − 2·round(1e6·2·ln2)
    val want = math.round(1e6 * 4 * math.log(4)) - 2 * math.round(1e6 * 2 * math.log(2))
    assert(m("aabb")._2 == want)
  }

  test("entropy: non-alphabet chars pool into one OTHER bucket") {
    // "!?" are both OTHER -> pooled: histogram {a:2, other:2} == "aabb"
    val rs = h("aa!?", "aabb").map(_._2)
    assert(rs(0) == rs(1))
  }
}

class ZipfAuditSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("zipf audit: exact counts; slope -1 for a perfect power law") {
    // plant a corpus whose top-4 terms follow cnt = 64 / rank exactly:
    // ln(cnt) = ln(64) - 1·ln(rank) -> OLS slope = -1 up to fixed-point
    // rounding of the four (x, y) points
    val words =
      Seq.fill(64)("w1") ++ Seq.fill(32)("w2") ++ Seq.fill(21)("w3a") ++
        Seq.fill(16)("w4")
    val df = Seq(words.mkString(" ")).toDF("text")
    val r = TextAnalysis.zipfAudit(df, "text", topR = 4).collect()(0)
    assert(r.getLong(0) == words.size.toLong) // n_tokens
    assert(r.getLong(1) == 4L)                // n_vocab
    assert(r.getInt(2) == 4)                  // n_top
    // ranks 1,2,4 are exact powers; rank 3 planted at 21 ≈ 64/3 -> slope
    // within a hair of -1
    assert(math.abs(r.getDouble(3) + 1.0) < 0.01, r.getDouble(3))
  }

  test("zipf audit: vocab smaller than topR just uses what exists") {
    val df = Seq("a a a b b c").toDF("text")
    val r = TextAnalysis.zipfAudit(df, "text", topR = 100).collect()(0)
    assert(r.getLong(1) == 3L && r.getInt(2) == 3)
  }
}

class ProvenanceAuditSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  test("sourceOverlap counts shared canonical fingerprints per source pair") {
    val docs = Seq(
      (1L, "the same text", "crawlA"),
      (2L, "THE   SAME text", "crawlB"),   // canonicalizes equal
      (3L, "the same text", "crawlC"),
      (4L, "unique to a", "crawlA"),
      (5L, "other text", "crawlB"),
      (6L, "other text", "crawlB")          // same-source dup: no pair
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlap(docs, "text", "source")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == Map(
      ("crawlA", "crawlB") -> 1L, ("crawlA", "crawlC") -> 1L,
      ("crawlB", "crawlC") -> 1L), got)
  }

  test("minhashCalibration: exact duplicates estimate J=1 with zero error") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "wholly different words appear here now")
    ).toDF("doc_id", "text")
    val rows = Dedup.minhashCalibration(docs, "doc_id", "text").collect()
    val dup = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(dup.getInt(2) == 8)                 // all components match
    assert(dup.getDouble(3) == 1.0 && dup.getDouble(4) == 1.0)
    assert(dup.getDouble(5) == 0.0)
    // estimator bound sanity on every emitted pair: |est - J| <= 1
    rows.foreach(r => assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0))
  }
}

class OrderStatsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.OrderStats

  test("kthSmallest matches a full sort on mixed data, small collect limit") {
    val xs = (1 to 4000).map(i => ((i * 2654435761L) % 10007).toDouble / 7.0)
    val df = spark.sparkContext.parallelize(xs, 13).toDF("v")
    val sorted = xs.sorted
    val ks = Seq(1L, 2L, 1000L, 2000L, 3999L, 4000L)
    // tiny collectLimit forces multiple refinement rounds
    val got = OrderStats.kthSmallest(df, "v", ks, buckets = 8, collectLimit = 50)
    ks.foreach(k => assert(got(k) == sorted(k.toInt - 1), s"k=$k"))
  }

  test("duplicates: a degenerate all-equal cell resolves immediately") {
    val xs = Seq.fill(5000)(42.0) ++ Seq(1.0, 100.0)
    val df = spark.sparkContext.parallelize(xs, 7).toDF("v")
    val got = OrderStats.kthSmallest(df, "v", Seq(1L, 2500L, 5002L),
      buckets = 4, collectLimit = 10)
    assert(got(1L) == 1.0 && got(2500L) == 42.0 && got(5002L) == 100.0)
  }

  test("exactQuantiles uses the ceil(p*n) rank definition") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val q = OrderStats.exactQuantiles(df, "v", Seq(0.25, 0.5, 0.75, 0.95))
      .map { case (p, k, v) => p -> ((k, v)) }.toMap
    assert(q(0.25) == ((25L, 25.0)) && q(0.5) == ((50L, 50.0)))
    assert(q(0.75) == ((75L, 75.0)) && q(0.95) == ((95L, 95.0)))
  }

  test("out-of-range ranks are refused") {
    val df = Seq(1.0, 2.0).toDF("v")
    intercept[IllegalArgumentException] {
      OrderStats.kthSmallest(df, "v", Seq(3L))
    }
  }

  test("grouped quantiles match the per-group sorted truth") {
    val data = (1 to 900).map(i => ("a", ((i * 7919) % 1201).toDouble)) ++
      (1 to 300).map(i => ("b", ((i * 104729) % 389).toDouble))
    val df = spark.sparkContext.parallelize(data, 9).toDF("g", "v")
    val got = OrderStats.groupedExactQuantiles(df, "g", "v", Seq(0.5, 0.9))
      .map { case (g, p, k, x) => (g, p) -> ((k, x)) }.toMap
    for ((g, xs) <- data.groupBy(_._1); p <- Seq(0.5, 0.9)) {
      val sorted = xs.map(_._2).sorted
      val k = math.max(1L, math.ceil(p * sorted.size).toLong)
      assert(got((g, p)) == ((k, sorted(k.toInt - 1))), s"g=$g p=$p")
    }
  }

  test("globalNtile matches SQL NTILE for every bucket count and remainder") {
    // 103 rows (prime: every b has a remainder) over a coarse prefix of
    // ~10-row runs; order metric has ties broken by id
    val rows = (1L to 103L).map(i => (i, (i * 37) % 11))
    val df = rows.toDF("id", "m")
    for (b <- Seq(1, 2, 3, 4, 7)) {
      val got = OrderStats.globalNtile(df, col("m"), col("m"), "id", b)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = rows.sortBy { case (id, m) => (m, id) }.zipWithIndex
        .map { case ((id, _), i0) =>
          val n = rows.size; val q = n / b; val r = n % b; val i = i0 + 1
          id -> (if (i <= r * (q + 1)) (i + q) / (q + 1)
                 else r + (i - r * (q + 1) + q - 1) / q)
        }.toMap
      assert(got == want, s"b=$b")
      // cross-check against Spark's own ntile (single-partition oracle)
      import org.apache.spark.sql.expressions.Window
      val oracle = df.withColumn("t",
          ntile(b).over(Window.orderBy(col("m"), col("id"))))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(got == oracle, s"vs ntile b=$b")
    }
  }

  test("globalNtile: more buckets than rows degenerates like NTILE") {
    val df = Seq((1L, 5L), (2L, 3L), (3L, 5L)).toDF("id", "m")
    val got = OrderStats.globalNtile(df, col("m"), col("m"), "id", 7)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(2L -> 1, 1L -> 2, 3L -> 3))
  }
}

class RollupSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Rollup

  test("merge of split partials is bit-identical to the full aggregate") {
    val rows = (1 to 500).map(i =>
      (s"d${i % 7}", s"t${i % 3}", (i * 13 % 101).toLong))
    val df = rows.toDF("day", "typ", "v")
    val dims = Seq("day", "typ"); val ms = Seq("v")
    val full = Rollup.aggregate(df, dims, ms)
      .orderBy("day", "typ").collect().toSeq
    // three uneven slices, one empty-dim-overlap shape
    val parts = Seq(df.filter(col("v") < 30), df.filter(col("v").between(30, 31)),
      df.filter(col("v") > 31)).map(Rollup.aggregate(_, dims, ms))
    val merged = Rollup.merge(parts, dims, ms)
      .orderBy("day", "typ").collect().toSeq
    assert(merged == full)
  }

  test("a dim combination present only in the delta survives the merge") {
    val a = Rollup.aggregate(Seq(("x", 1L)).toDF("k", "v"), Seq("k"), Seq("v"))
    val b = Rollup.aggregate(Seq(("y", 5L), ("y", 2L)).toDF("k", "v"),
      Seq("k"), Seq("v"))
    val m = Rollup.merge(Seq(a, b), Seq("k"), Seq("v")).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(m.toSeq == Seq(("x", 1L, 1L, 1L, 1L), ("y", 2L, 7L, 2L, 5L)))
  }
}

class ClusteringSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Clustering

  test("kmeans converges to the two planted blobs, exact integer centroids") {
    // ids 0,1 seed the clusters; blob A near 0.0, blob B near 0.4
    val vecs = Seq(
      (0L, Seq(0.00, 0.01)), (2L, Seq(0.02, 0.00)), (3L, Seq(0.01, 0.02)),
      (1L, Seq(0.40, 0.41)), (4L, Seq(0.42, 0.40)), (5L, Seq(0.41, 0.39)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 0, 2L -> 0, 3L -> 0, 1L -> 1, 4L -> 1, 5L -> 1))
  }

  test("assignment ties break on the smaller centroid index") {
    val vecs = Seq((0L, Seq(0.0)), (1L, Seq(0.2)), (7L, Seq(0.1)))
      .toDF("vec_id", "embedding")
    // 0.1 is exactly equidistant from seeds 0.0 and 0.2 → cluster 0
    val q = vecs.select(col("vec_id"),
      Clustering.quantize(col("embedding")).as("q"))
    val seeds = q.filter(col("vec_id") < 2).orderBy("vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toSeq)).toSeq
    val a = Clustering.assign(q, "vec_id", "q", seeds)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a(7L) == 0 && a(0L) == 0 && a(1L) == 1)
  }

  test("a centroid that captures no rows vanishes from the update") {
    val assigned = Seq((0L, Seq(10L), 0), (1L, Seq(20L), 0))
      .toDF("vec_id", "q", "cluster")
    val c = Clustering.update(assigned, "q")
    assert(c == Seq((0, Seq(15L)))) // floor((10+20)/2); cluster 1 gone
  }
}

class MondrianSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Mondrian

  test("every class keeps >= k rows and the classes partition the input") {
    val rows = (1L to 200L).map(i => (i, (i * 7) % 97, (i * 13) % 31))
    val df = rows.toDF("id", "x", "y")
    val classes = Mondrian.classes(
      Mondrian.partition(df, "id", "x", "y", k = 20, depth = 3)).collect()
    assert(classes.map(_.getLong(1)).sum == 200L)
    assert(classes.forall(_.getLong(1) >= 20L))
    assert(classes.length > 1) // at least one cut was allowable
  }

  test("a cut that would starve one side is refused; the region stays whole") {
    // 30 identical points: median == min == max, left side = all 30,
    // right side = 0 < k → no cut ever applies
    val df = (1L to 30L).map(i => (i, 5L, 5L)).toDF("id", "x", "y")
    val classes = Mondrian.classes(
      Mondrian.partition(df, "id", "x", "y", k = 10, depth = 3)).collect()
    assert(classes.length == 1 && classes.head.getLong(1) == 30L)
  }

  test("hand-traced depth-1 cut on the wider dim with lower median") {
    // x range 0..9 (wider), y constant; lower median of 4 rows = rank 2
    val df = Seq((1L, 0L, 7L), (2L, 3L, 7L), (3L, 6L, 7L), (4L, 9L, 7L))
      .toDF("id", "x", "y")
    val p = Mondrian.partition(df, "id", "x", "y", k = 2, depth = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // med = x at rank (4+1) div 2 = 2 → 3; ids 1,2 left (region 2), 3,4 right (3)
    assert(p == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
  }
}

class DataCardSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.DataCard

  private def corpus(rows: (Long, String, String, String)*) =
    rows.toDF("doc_id", "lang", "source", "text")

  test("delta-maintained index equals the rebuilt index, zero rows vanish") {
    val v1 = corpus(
      (1L, "en", "a", "one two"), (2L, "en", "a", "one two"),
      (3L, "de", "b", "drei"), (4L, "en", "b", "four"))
    // v2: doc 2 (a dup of 1) removed, doc 3 edited, doc 5 added
    val v2 = corpus(
      (1L, "en", "a", "one two"), (3L, "de", "b", "drei vier"),
      (4L, "en", "b", "four"), (5L, "fr", "c", "cinq"))
    val idx1 = DataCard.cardIndex(v1, "lang", "source", "text")
    val removed = corpus((2L, "en", "a", "one two"), (3L, "de", "b", "drei"))
    val added = corpus((3L, "de", "b", "drei vier"), (5L, "fr", "c", "cinq"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val inc = DataCard.applyDelta(idx1, removed, added, "lang", "source", "text")
    val rebuilt = DataCard.cardIndex(v2, "lang", "source", "text")
    assert(canon(inc) == canon(rebuilt))
    // the removed dup's fp row dropped to cnt 1, not 0; doc 3's old fp is gone
    assert(!canon(inc).exists { case (_, _, _, c, _) => c <= 0 })
    // cards agree at every rollup level
    def card(df: org.apache.spark.sql.DataFrame) =
      DataCard.cardFromIndex(df).collect().map(_.toSeq).toSet
    assert(card(inc) == card(rebuilt))
    // and the dup accounting is right: en/a had 2 docs 1 unique; now 1/1
    val cell = DataCard.cardFromIndex(inc).collect()
      .find(r => r.getString(0) == "en" && r.getString(1) == "a").get
    assert(cell.getLong(2) == 1L && cell.getLong(5) == 0L)
  }
}

class MergeSkylineSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private val sf = "/root/testdata/sf0.001"

  test("d_pareto_docs equals the brute-force dominance filter") {
    // the graded two-stage windowed sweep vs an O(n²) cross-join truth
    // computed right here on the same metrics — any pruning slip (tie
    // handling, the strict/equal frame split, a local prune that drops a
    // frontier point) shows as a set difference
    val m = Tables(spark, sf, "documents")
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0)).cast("long").as("n"),
        size(array_distinct(filter(split(trim(col("text")), "\\s+"),
          x => length(x) > 0))).cast("long").as("nd"))
      .select(col("doc_id"), col("n"),
        when(col("n") === 0, 0L)
          .otherwise(expr("nd * 1000000 div n")).as("d"))
    val rows = m.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val brute = rows.filter { case (_, n, d) =>
      !rows.exists { case (_, n2, d2) =>
        n2 >= n && d2 >= d && (n2 > n || d2 > d) }
    }.map { case (id, n, d) => (id, n, d) }.toSet
    val got = SparkEntry.queries("d_pareto_docs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.nonEmpty)
  }

  test("q_merge_upsert: action classes partition the output, fp audit holds") {
    val out = SparkEntry.queries("q_merge_upsert")(spark, sf).cache()
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val byAction = out.groupBy(col("action")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nU = docs.filter(col("doc_id") % 10 === 0).count()
    val nD = docs.filter(col("doc_id") % 10 === 7).count()
    val nI = docs.filter(col("doc_id") % 10 === 3).count()
    assert(byAction.getOrElse("update", 0L) == nU)
    assert(byAction.getOrElse("delete", 0L) == nD)
    assert(byAction.getOrElse("insert", 0L) == nI)
    assert(byAction.getOrElse("keep", 0L) == nDocs - nU - nD)
    assert(!byAction.contains("conflict"))
    // tombstones carry no fingerprint; every surviving row carries one
    assert(out.filter(col("action") === "delete" && col("fp").isNotNull)
      .count() == 0L)
    assert(out.filter(col("action") =!= "delete" && col("fp").isNull)
      .count() == 0L)
    // an updated row's fp is md5(text || ' [rev2]') of the v1 text
    val probe = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        md5(concat(col("text"), lit(" [rev2]"))).as("want"))
    val joined = out.filter(col("action") === "update")
      .join(probe, col("id") === col("doc_id"))
    assert(joined.filter(col("fp") =!= col("want")).count() == 0L)
    assert(joined.count() == nU)
    out.unpersist()
  }
}

class PrefixFilterJoinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Dedup

  test("prefix filter is complete: equals brute-force shingle Jaccard >= tau") {
    // the completeness theorem, checked against an O(n^2) truth on the
    // real sf0.001 corpus: every pair at J >= 3/5 must surface (prefix
    // filtering has NO false negatives), and none below the cut may leak
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    val sets = docs
      .select(col("doc_id"), Dedup.portableTokens(col("text")).as("tk0"))
      .select(col("doc_id"),
        array_distinct(Dedup.portableShingleWindows(col("tk0"))).as("tk"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b && sa.nonEmpty
      inter = (sa & sb).size.toLong
      uni = sa.size.toLong + sb.size.toLong - inter
      if uni > 0 && inter * 5 >= uni * 3
    } yield (a, b, inter * 1000000L / uni)).toSet
    val got = SparkEntry.queries("d_setjoin_ppjoin")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(got.nonEmpty)
  }

  test("degenerate tau is refused; tau=1 finds exact-duplicate sets only") {
    intercept[IllegalArgumentException] {
      Dedup.prefixFilterJoin(Tables(spark, "/root/testdata/sf0.001", "documents"),
        "doc_id", "text", tauNum = 2, tauDen = 1)
    }
    import spark.implicits._
    val tiny = Seq(
      (1L, "aa bb cc dd ee"), (2L, "aa bb cc dd ee"),   // identical
      (3L, "aa bb cc dd ff"), (4L, "zz yy xx ww vv")    // near / far
    ).toDF("doc_id", "text")
    val out = Dedup.prefixFilterJoin(tiny, "doc_id", "text", 1, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)))
  }
}

class ZorderSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.Layout

  test("zRanges is an exact box cover: exhaustive at bits=4") {
    def interleave(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 4) {
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    for (xlo <- Seq(0, 3, 7); xhi <- Seq(8, 12, 15); ylo <- Seq(0, 2, 5);
         yhi <- Seq(9, 15)) {
      val rs = Layout.zRanges(xlo, xhi, ylo, yhi, bits = 4)
      // sorted, disjoint, merged
      rs.sliding(2).foreach {
        case Seq((_, ahi), (blo, _)) => assert(blo > ahi + 1)
        case _ =>
      }
      for (x <- 0 until 16; y <- 0 until 16) {
        val z = interleave(x, y)
        val inRanges = rs.exists { case (lo, hi) => z >= lo && z <= hi }
        val inBox = x >= xlo && x <= xhi && y >= ylo && y <= yhi
        assert(inRanges == inBox, s"($x,$y) z=$z box=$inBox ranges=$inBox")
      }
    }
  }

  test("morton column agrees with the driver-side interleave") {
    import spark.implicits._
    val pts = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Layout.morton(col("x"), col("y"), 8).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    def interleave(x: Int, y: Int): Long = {
      var z = 0L
      for (i <- 0 until 8) {
        z |= ((x >> i) & 1).toLong << (2 * i)
        z |= ((y >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    pts.foreach { case (x, y) => assert(got((x, y)) == interleave(x, y)) }
  }

  test("degenerate boxes are covered and out-of-grid boxes refused") {
    // single cell
    assert(Layout.zRanges(5, 5, 9, 9, 4).map { case (l, h) => h - l + 1 }.sum == 1L)
    // full grid is one contiguous run
    assert(Layout.zRanges(0, 15, 0, 15, 4) == Seq((0L, 255L)))
    intercept[IllegalArgumentException] { Layout.zRanges(0, 16, 0, 15, 4) }
    intercept[IllegalArgumentException] { Layout.zRanges(3, 2, 0, 15, 4) }
  }
}

class CmsSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.{Dedup, HeavyHitters}

  test("CMS never undercounts: estimate >= exact for EVERY token") {
    // the count-min one-sided error guarantee, asserted over the full
    // vocabulary (not just the graded top-30) on real sf0.001 data
    val tok = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(Dedup.portableTokens(col("text"))).as("term"))
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("exact_n"))
    val cells = HeavyHitters.cmsCells(tok, "term")
    val est = HeavyHitters.cmsEstimate(cells, exact)
    assert(est.filter(col("cms_n") < col("exact_n")).count() == 0L)
    // and the matrix really is depth x width bounded
    assert(cells.count() <= 4L * 256)
    // total mass per depth row equals the stream length
    val n = tok.count()
    val perRow = cells.groupBy(col("d")).agg(sum(col("n")).as("m"))
      .collect().map(_.getLong(1)).toSet
    assert(perRow == Set(n))
  }

  test("a planted skewed stream estimates the heavy term exactly when its cells are clean") {
    import spark.implicits._
    val stream = (Seq.fill(500)("heavy") ++ (1 to 40).map(i => s"rare$i"))
      .toDF("term")
    val cells = HeavyHitters.cmsCells(stream, "term", depth = 4, width = 256)
    val est = HeavyHitters.cmsEstimate(cells,
      stream.select(col("term")).distinct(), depth = 4, width = 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("heavy") >= 500L && est("heavy") <= 540L)
    (1 to 40).foreach(i => assert(est(s"rare$i") >= 1L))
  }
}




class BfsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.LinkRank

  test("bfsHops: min-hop distances on a path with a shortcut") {
    // 1→2→3→4→5 plus shortcut 1→4: node 4 is 1 hop, not 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
      .toDF("src", "dst")
    val src = Seq(1L).toDF("node")
    val d = LinkRank.bfsHops(edges, src, maxHops = 4).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
  }

  test("bfsHops: hop cap truncates, multi-source takes the nearer source") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 3L))
      .toDF("src", "dst")
    val d = LinkRank.bfsHops(edges, Seq(1L, 10L).toDF("node"), maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 is 1 hop from source 10 (not 2 from source 1); 4 reached at hop 2
    assert(d == Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    // cap 1: node 4 unreached
    val d1 = LinkRank.bfsHops(edges, Seq(1L, 10L).toDF("node"), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(!d1.contains(4L) && d1(3L) == 1)
  }

  test("bfsHops: early exit when the frontier drains before the cap") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val d = LinkRank.bfsHops(edges, Seq(1L).toDF("node"), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d == Map(1L -> 0, 2L -> 1))
  }

  test("ssspDistances: cheaper long route beats the direct edge") {
    // 1→4 direct costs 10; 1→2→3→4 costs 3 but needs 3 edge budget
    val edges = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L)).toDF("src", "dst", "w")
    def run(cap: Int): Map[Long, Long] =
      LinkRank.ssspDistances(edges, Seq(1L).toDF("node"), cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == Map(1L -> 0L, 4L -> 10L, 2L -> 1L))
    // at cap 3 the relaxation chain replaces the direct edge's 10
    assert(run(3) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("ssspDistances: improved-only frontier reconverges through a hub") {
    // two sources; 20's cheap path to 3 must still propagate to 4
    val edges = Seq((1L, 3L, 5L), (20L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val d = LinkRank.ssspDistances(edges, Seq(1L, 20L).toDF("node"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 20L -> 0L, 3L -> 1L, 4L -> 2L))
  }

  test("labelPropagation: two bridged cliques settle into two communities") {
    // K3 {1,2,3} and K3 {10,11,12} with bridge 3-10. Hand-traced
    // synchronous rounds: r1 = {1→2,2→1,3→1,10→3,11→10,12→10};
    // r2 = {1→1,2→1,3→1,10→10,11→3,12→3};
    // r3 keeps the left clique at 1 and unifies the right at 3 (10's
    // majority {1,3,3} → 3) — two communities, one label each
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("src", "dst")
    val l = LinkRank.labelPropagation(edges, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("labelPropagation: tie-break picks the smallest label, round 1 exact") {
    // star: 5 connected to 2 and 8 — one round, tie 2 vs 8 → 2;
    // leaves adopt the center's label 5
    val edges = Seq((5L, 2L), (5L, 8L)).toDF("src", "dst")
    val l = LinkRank.labelPropagation(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == Map(5L -> 2L, 2L -> 5L, 8L -> 5L))
  }
}

class BasketsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Baskets

  test("frequentPairs: counts, a-priori prune, and duplicate tolerance") {
    // baskets: 1:{a,b,c} 2:{a,b} 3:{a,b} 4:{c,d} 5:{d} (+ dup rows)
    val rows = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L), (4L, 30L), (4L, 40L),
      (5L, 40L)).toDF("b", "i")
    val out = Baskets.frequentPairs(rows, "b", "i",
        minItemSupport = 2L, minPairSupport = 2L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // only (10,20) reaches pair support 2 (3 baskets); item counts exact
    assert(out == Map((10L, 20L) -> (3L, 3L, 3L, 5L)))
  }

  test("frequentPairs: a-priori prune equals the unpruned spelling") {
    // items below minItemSupport can't form a frequent pair, so pruning
    // first must not change the answer
    val rows = (1L to 40L).flatMap(b =>
      Seq((b, b % 5), (b, b % 7 + 100L), (b, b % 3 + 200L)))
      .toDF("b", "i")
    val pruned = Baskets.frequentPairs(rows, "b", "i", 3L, 2L)
      .orderBy("item_a", "item_b").collect().toSeq
    val naive = Baskets.frequentPairs(rows, "b", "i", 1L, 2L)
      .filter(col("cnt_a") >= 3 && col("cnt_b") >= 3)
      .orderBy("item_a", "item_b").collect().toSeq
    assert(pruned.nonEmpty && pruned == naive)
  }

  test("frequentPairs: oversized baskets are dropped, not exploded") {
    val big = (1L to 60L).map(i => (1L, i)) ++ Seq((2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L))
    val out = Baskets.frequentPairs(big.toDF("b", "i"), "b", "i",
        minItemSupport = 1L, minPairSupport = 2L, maxBasketItems = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // basket 1 (60 items) is dropped, so (1,2) pairs only in baskets 2,3
    assert(out.toSeq == Seq((1L, 2L, 2L)))
  }
}

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TimeSeries

  private def ev(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
    rows.toDF("k", "tss").select(col("k"),
      col("tss").cast("timestamp").as("ts"))

  test("gapFillDaily: gap days appear at n=0 and forward-fill carries") {
    val df = ev((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 11:00:00"),
      (1L, "2024-01-04 09:00:00"), (2L, "2024-01-02 00:00:00"))
    val out = TimeSeries.gapFillDaily(df, "k", "ts")
      .orderBy("key", "day").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01", 2L, 2L), (1L, "2024-01-02", 0L, 2L),
      (1L, "2024-01-03", 0L, 2L), (1L, "2024-01-04", 1L, 1L),
      (2L, "2024-01-02", 1L, 1L)))
  }

  test("trendFit: exact rational slope over the gap-filled grid") {
    // key 1: days 0,1,2 with y = 2,0,1 (middle day is a gap)
    val df = ev((1L, "1970-01-01 01:00:00"), (1L, "1970-01-01 02:00:00"),
      (1L, "1970-01-03 01:00:00"))
    val r = TimeSeries.trendFit(df, "k", "ts").collect().head
    // n=3 sx=3 sy=3 sxy=2 sxx=5 → num = 3*2-3*3 = -3; den = 3*5-9 = 6
    assert((r.getAs[Long]("n_days"), r.getAs[Long]("sx"),
      r.getAs[Long]("sy"), r.getAs[Long]("sxy"), r.getAs[Long]("sxx"),
      r.getAs[Long]("slope_num"), r.getAs[Long]("slope_den")) ==
      ((3L, 3L, 3L, 2L, 5L, -3L, 6L)))
  }

  test("maxConcurrencyDaily: sweep-line peak with touch-no-overlap ties") {
    // holds of 60 s: a@10:00:00, b@10:00:30 overlap (peak 2);
    // c@10:01:00 STARTS exactly when a ends — end sorts first, no overlap
    val df = ev((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 10:00:30"),
      (1L, "2024-01-01 10:01:00"))
    val out = TimeSeries.maxConcurrencyDaily(df, "ts", holdSeconds = 60)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getTimestamp(2).toString))
    assert(out.toSeq == Seq(("2024-01-01", 2L, "2024-01-01 10:00:30.0")))
  }

  test("maxConcurrencyDaily: holds clamp at midnight per partition") {
    // 23:59 event with a 300 s hold must not leak into the next day
    val df = ev((1L, "2024-01-01 23:59:00"), (1L, "2024-01-02 00:01:00"))
    val out = TimeSeries.maxConcurrencyDaily(df, "ts", holdSeconds = 300)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)))
    assert(out.toSeq == Seq(("2024-01-01", 1L), ("2024-01-02", 1L)))
  }
}

/** Semantic invariants for the round-8 governance/survivorship/curriculum
  * queries — properties the DuckDB oracle equality can't see on its own
  * (cross-query consistency, uniqueness, monotone interleave shape).
  */
class GovernanceCurriculumSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("l-diversity <= k-anonymity (min distinct values can't beat min class size)") {
    assume(new java.io.File(dir).isDirectory)
    val k = SparkEntry.queries("q_kanon_audit")(spark, dir)
      .collect().head.getAs[Long]("k_anonymity")
    val l = SparkEntry.queries("q_ldiversity_audit")(spark, dir)
      .collect().head.getAs[Long]("l_diversity")
    assert(l >= 1L && l <= k, s"l=$l must sit in [1, k=$k]")
  }

  test("golden record: one survivor per entity, consistent with the linkage set") {
    assume(new java.io.File(dir).isDirectory)
    val golden = SparkEntry.queries("q_golden_record")(spark, dir).collect()
    val ids = golden.map(_.getAs[Long]("entity_id"))
    assert(ids.distinct.length == ids.length, "duplicate surviving entity")
    // exactly the entities the linkage query matched survive — no loss,
    // no inventions — and arbitration kept the per-entity minimum lev
    val linked = SparkEntry.queries("q_record_linkage")(spark, dir)
      .collect().map(r => (r.getAs[Long]("bkey"), r.getAs[Int]("lev")))
    val minLev = linked.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    assert(ids.toSet == minLev.keySet)
    golden.foreach { r =>
      val (id, lev) = (r.getAs[Long]("entity_id"), r.getAs[Int]("lev"))
      assert(lev == minLev(id), s"entity $id survived lev=$lev, min is ${minLev(id)}")
      assert(r.getAs[Long]("n_candidates") >= 1L)
    }
  }

  test("curriculum order: unique positions, full coverage, round-robin interleave") {
    assume(new java.io.File(dir).isDirectory)
    val rows = SparkEntry.queries("d_curriculum_order")(spark, dir).collect()
    val nDocs = Tables(spark, dir, "documents").count()
    assert(rows.length == nDocs, "every doc gets a curriculum slot")
    val pos = rows.map(_.getAs[Long]("pos"))
    assert(pos.distinct.length == pos.length, "positions must be unique")
    // within a bucket, difficulty is non-decreasing along seq
    rows.groupBy(_.getAs[Int]("bucket")).foreach { case (b, rs) =>
      val bySeq = rs.sortBy(_.getAs[Int]("seq")).map(_.getAs[Int]("n_tokens"))
      assert(bySeq.zip(bySeq.tail).forall { case (a, c) => a <= c },
        s"bucket $b difficulty not monotone")
    }
    // the first full rotation visits every bucket exactly once, easy->hard
    val firstTen = rows.sortBy(_.getAs[Long]("pos")).take(10)
      .map(_.getAs[Int]("bucket"))
    assert(firstTen.toSeq == (1 to 10).toSeq,
      s"first rotation should be buckets 1..10, got ${firstTen.toSeq}")
  }
}

/** Filtered vector search: pre-filter semantics over the metadata-carrying
  * IVF layout vs the naive post-filter (filter an unfiltered top-k).
  */
class FilteredAnnSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  private val dir = "/root/testdata/sf0.001"

  test("pre-filter fills k; post-filtering an unfiltered top-k underfetches") {
    assume(new java.io.File(dir).isDirectory)
    val pre = SparkEntry.queries("s_ann_filtered")(spark, dir)
    val preCounts = pre.groupBy("q_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(preCounts.size == 10 && preCounts.values.forall(_ == 5L),
      s"pre-filter must fill k=5 for all 10 queries: $preCounts")
    // every returned candidate satisfies the predicate
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id").as("c_id"), col("label"))
    assert(pre.join(emb, "c_id").filter(col("label") > 3).count() == 0)
    // the naive spelling: unfiltered stored-IVF top-5, THEN filter — at
    // least one query must lose slots (k-fill is the pre-filter claim)
    val post = SparkEntry.queries("s_ann_ivf_stored")(spark, dir)
      .join(emb, "c_id").filter(col("label") <= 3)
    val postCounts = post.groupBy("q_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 10L).exists(q => postCounts.getOrElse(q, 0L) < 5L),
      s"expected post-filter underfetch on sf0.001: $postCounts")
  }
}

/** Luhn validator hand-trace: the arithmetic pinned against known card
  * test numbers (the ISO/IEC 7812 examples every implementation uses).
  */
class LuhnSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def luhnValid(card: String): Boolean = {
    val df = spark.range(1).select(lit(card).as("card"))
      .withColumn("luhn_sum", expr(
        "aggregate(transform(sequence(1, 16), i -> " +
        "CASE WHEN i % 2 = 1 THEN " +
        " CASE WHEN CAST(substr(card, i, 1) AS INT) * 2 > 9 " +
        "  THEN CAST(substr(card, i, 1) AS INT) * 2 - 9 " +
        "  ELSE CAST(substr(card, i, 1) AS INT) * 2 END " +
        "ELSE CAST(substr(card, i, 1) AS INT) END), 0, (a, x) -> a + x)"))
    df.select((col("luhn_sum") % 10 === 0).as("v")).head().getBoolean(0)
  }

  test("known-valid 16-digit test numbers pass; off-by-one check digits fail") {
    // standard test PANs (valid by construction, public test vectors)
    assert(luhnValid("4111111111111111"), "Visa test PAN must validate")
    assert(luhnValid("5500005555555559"), "MC test PAN must validate")
    assert(!luhnValid("4111111111111112"), "flipped check digit must fail")
    assert(!luhnValid("5500005555555550"), "flipped check digit must fail")
  }

  test("d_pii_luhn scrubs exactly the validated numbers") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("d_pii_luhn")(spark, dir).collect()
    out.foreach { r =>
      val scrubbed = r.getAs[String]("clean").contains("<CARD>")
      assert(scrubbed == (r.getAs[Int]("luhn_valid") == 1),
        s"doc ${r.getAs[Long]("doc_id")}: scrub must track validation")
    }
    val nValid = out.count(_.getAs[Int]("luhn_valid") == 1)
    assert(nValid > 0 && nValid < out.length, "both outcomes must occur")
  }
}

/** CMS inner-product join-size estimation: the one-sided guarantee and
  * the width-monotonicity that makes the three-width audit meaningful.
  */
class JoinCardinalitySpec extends SparkSpec {
  test("estimate never undercounts and is monotone non-increasing in width") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val rows = SparkEntry.queries("q_join_cardinality_audit")(spark, dir)
      .orderBy("width").collect()
    assert(rows.length == 3)
    val exact = rows.head.getAs[Long]("exact_n")
    assert(rows.forall(_.getAs[Long]("exact_n") == exact))
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_n") >= exact,
        s"width ${r.getAs[Int]("width")}: CMS must never undercount")
    }
    val ests = rows.map(_.getAs[Long]("cms_n"))
    assert(ests.zip(ests.tail).forall { case (coarse, fine) => coarse >= fine },
      s"coarser width must not beat finer: ${ests.toSeq}")
  }

  test("AGMS estimate lands within 20% of the exact join size") {
    // the unbiased sketch has two-sided error; on this data the signed
    // cancellation keeps it tight (variance ~ 2 F2a F2b / w) — pin a
    // loose relative band against the audit row's exact truth. Both
    // values are data-deterministic, so this can only break if the
    // sketch math (or the hash slicing) changes.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val agms = SparkEntry.queries("q_join_cardinality_agms")(spark, dir)
      .collect().head.getAs[Long]("agms_n")
    val exact = SparkEntry.queries("q_join_cardinality_audit")(spark, dir)
      .collect().head.getAs[Long]("exact_n")
    val rel = math.abs(agms - exact).toDouble / exact
    assert(rel <= 0.2, s"AGMS off by ${rel * 100}%: $agms vs exact $exact")
  }

  test("the estimator row equals the audit row's finest-width line") {
    // the production estimator (one width, no barriers, no truth join)
    // must report the identical cms_n the audited three-width sweep
    // derives at width 65536 — same sliced bucket family end to end
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val est = SparkEntry.queries("q_join_cardinality")(spark, dir).collect()
    assert(est.length == 1 && est.head.getAs[Int]("width") == 65536)
    val audit = SparkEntry.queries("q_join_cardinality_audit")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("width") === 65536).collect()
    assert(est.head.getAs[Long]("cms_n") == audit.head.getAs[Long]("cms_n"))
  }
}

/** Novelty attribution conservation: every distinct corpus gram is
  * first-sighted exactly once, so per-source credits sum to the
  * corpus-wide distinct-gram count.
  */
class NgramNoveltySpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  test("per-source first-seen credits partition the distinct gram space") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("d_ngram_novelty")(spark, dir).collect()
    val credited = out.map(_.getAs[Long]("n_first_seen")).sum
    val total = Tables(spark, dir, "documents")
      .select(explode(array_distinct(
        operators.Dedup.shingles(col("text"), 3))).as("g"))
      .agg(countDistinct(col("g"))).head().getLong(0)
    assert(credited == total, s"credits $credited != distinct grams $total")
    out.foreach { r =>
      assert(r.getAs[Long]("n_first_seen") <= r.getAs[Long]("n_grams"))
    }
  }
}

class PackGreedySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("no bin ever overflows the budget and fills are running sums") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("d_pack_greedy")(spark, dir)
    // bin_used is the fill AFTER placing each doc; the bin maximum is the
    // bin's final fill and must respect the 512 budget (no-split contract)
    val overflow = out.filter(col("bin_used") > 512).count()
    assert(overflow == 0, s"$overflow rows overflow the 512 budget")
    // within (shard, bin), bin_used must be the strictly increasing
    // running sum of tokens in doc_id order
    val rows = out.orderBy(col("shard"), col("doc_id")).collect()
    var (shard, bin, used) = (-1, -1L, 0L)
    rows.foreach { r =>
      val (s2, b2) = (r.getAs[Int]("shard"), r.getAs[Long]("bin"))
      if (s2 != shard || b2 != bin) { shard = s2; bin = b2; used = 0L }
      used += r.getAs[Long]("tokens")
      assert(r.getAs[Long]("bin_used") == used,
        s"bin_used mismatch at doc ${r.get(0)}: ${r.getAs[Long]("bin_used")} vs $used")
    }
  }

  test("next-fit 50% guarantee: consecutive bin pairs exceed one budget") {
    // the classical next-fit bound — a doc opened bin k+1 only because it
    // did not fit in bin k, so fill(k) + fill(k+1) > budget; this is the
    // invariant that makes the packer's waste bounded at any corpus size
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val fills = SparkEntry.queries("d_pack_greedy")(spark, dir)
      .groupBy(col("shard"), col("bin"))
      .agg(max(col("bin_used")).as("fill"))
      .orderBy(col("shard"), col("bin")).collect()
      .groupBy(_.getAs[Int]("shard"))
    fills.foreach { case (sh, bins) =>
      bins.sliding(2).foreach {
        case Array(a, b) if a.getAs[Long]("bin") + 1 == b.getAs[Long]("bin") =>
          assert(a.getAs[Long]("fill") + b.getAs[Long]("fill") > 512,
            s"shard $sh bins ${a.getAs[Long]("bin")},${b.getAs[Long]("bin")} violate next-fit bound")
        case _ => ()
      }
    }
  }

  test("efficiency audit reconciles with the packed output") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val packed = SparkEntry.queries("d_pack_greedy")(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("tokens")).as("toks"),
        (max(col("bin")) + 1).as("bins"))
      .collect().map(r => r.getAs[Int]("shard") ->
        (r.getAs[Long]("docs"), r.getAs[Long]("toks"), r.getAs[Long]("bins"))).toMap
    val audit = SparkEntry.queries("d_pack_efficiency")(spark, dir).collect()
    audit.foreach { r =>
      val (docs, toks, bins) = packed(r.getAs[Int]("shard"))
      assert(r.getAs[Long]("packed_docs") == docs)
      assert(r.getAs[Long]("packed_tokens") == toks)
      assert(r.getAs[Long]("bins") == bins)
      val fill = r.getAs[Long]("fill_bp")
      assert(fill > 5000 && fill <= 10000,
        s"next-fit fill must sit in (50%, 100%]: $fill bp")
    }
  }
}

class ClassifierKappaSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("kappa is chance-corrected: below accuracy, within [-1e6, 1e6]") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val r = SparkEntry.queries("d_classifier_kappa")(spark, dir).collect().head
    val (acc, kap) = (r.getAs[Long]("acc_micro"), r.getAs[Long]("kappa_micro"))
    assert(kap <= acc, s"kappa $kap must not exceed accuracy $acc")
    assert(kap >= -1000000L && kap <= 1000000L)
    // the gold set contains zh which the marker heuristic can never emit,
    // so perfect agreement is impossible here by construction
    assert(acc < 1000000L, "gold langs include zh: accuracy must be < 1")
    assert(r.getAs[Long]("agree") <= r.getAs[Long]("n_docs"))
  }
}

class JaroWinklerSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.unsafe.types.UTF8String

  private def jw(a: String, b: String): Double =
    graft.functions.JaroWinklerKernel.jaroWinkler(
      UTF8String.fromString(a), UTF8String.fromString(b))

  test("kernel matches the textbook values and the oracle's points") {
    // right side of each pair: DuckDB jaro_winkler_similarity, probed
    // point by point while pinning the shared semantics
    val pts = Seq(
      ("MARTHA", "MARHTA") -> 0.9611111111111111,
      ("DIXON", "DICKSONX") -> 0.8133333333333332,
      ("JELLYFISH", "SMELLYFISH") -> 0.8962962962962964,
      ("DUANE", "DWAYNE") -> 0.8400000000000001,
      ("CRATE", "TRACE") -> 0.7333333333333334,
      ("ab", "ba") -> 0.0,
      ("aXXXXX", "aYYYYY") -> 0.4444444444444444, // no boost at jaro <= 0.7
      ("prefixAAAA", "prefixBBBB") -> 0.8400000000000001, // prefix cap 4
      ("ab", "abcdefghij") -> 0.7866666666666667,
      ("abc", "abc") -> 1.0, ("a", "a") -> 1.0,
      ("", "abc") -> 0.0, ("", "") -> 1.0)
    pts.foreach { case ((a, b), want) =>
      val got = jw(a, b)
      assert(math.abs(got - want) < 1e-12, s"jw($a, $b) = $got, want $want")
      assert(math.abs(jw(b, a) - want) < 1e-12, "symmetry")
    }
  }

  test("linkage query: every probe finds its own truncation source") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("q_linkage_jw")(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (qkey, bkey) = (r.getAs[Long]("qkey"), r.getAs[Long]("bkey"))
      assert(r.getAs[Double]("jw") >= 0.9,
        s"truncating one char must stay a near-perfect match: ${r}")
      assert(bkey == qkey - 1000000L || r.getAs[Double]("jw") >= 0.97,
        s"probe $qkey matched $bkey over its own source")
    }
  }

  test("expression stays inside whole-stage codegen") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val df = SparkEntry.queries("q_linkage_jw")(spark, dir)
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // toString renders a whole-stage-codegen span as a "*(id)" prefix —
    // the jaro_winkler projection must carry one (a non-codegen Expression
    // would force the whole Project out of the span)
    val jwLine = plan.linesIterator.find(_.contains("jaro_winkler"))
    assert(jwLine.exists(_.contains("*(")),
      s"JW projection must stay inside a codegen span:\n$plan")
    // and the top-1 must plan as WindowGroupLimit, not a full sort-rank
    assert(plan.contains("WindowGroupLimit"))
  }
}

class DiverseTopKSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("diverse top-k: no parent doc holds more than 2 of any query's 10 slots") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val rows = SparkEntry.queries("d_diverse_topk")(spark, dir).collect()
    val perQueryParent = rows.groupBy(r =>
      (r.getLong(0), r.getLong(2) >> 20)).view.mapValues(_.length)
    assert(perQueryParent.values.forall(_ <= 2), perQueryParent.toMap)
    // every query fills its 10 slots (the chunk corpus is big enough)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q filled ${rs.length} slots")
    }
    // and the cap genuinely rearranges results vs the uncapped chunk rank
    val plain = SparkEntry.queries("d_chunk_bm25")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val diverse = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(diverse != plain, "source cap must change at least one slot")
  }
}

class HardNegativesSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("hard negatives exclude the query doc's own chunks, fill 10 slots, " +
      "and rank through a bounded WindowGroupLimit") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val df = SparkEntry.queries("d_hard_negatives")(spark, dir)
    val rows = df.collect()
    rows.foreach { r =>
      assert((r.getLong(2) >> 20) != r.getLong(0),
        s"own-doc chunk ${r.getLong(2)} leaked into query ${r.getLong(0)}")
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.length == 10, s"query $q filled ${rs.length} negative slots")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    // the round-10 anti-shape: topK = Int.MaxValue defeated the limit
    assert(!plan.contains("2147483647"), "rank-all window is back")
  }

  test("topKOf(bm25Scores) is row-identical to bm25TopK at the same k") {
    val corpus = Seq(
      (1L, "spark shuffles partitions"), (2L, "spark caches partitions"),
      (3L, "ducks swim in ponds"), (4L, "spark spark spark shuffle"),
      (5L, "ponds hold water")).toDF("doc_id", "text")
    val qs = Seq((100L, "spark partitions"), (200L, "ponds")).toDF("q_id", "qt")
    val viaTopK = Retrieval.bm25TopK(corpus, qs, "doc_id", "text",
        "q_id", "qt", topK = 3).orderBy("q_id", "rnk").collect()
    val viaScores = Retrieval.topKOf(
        Retrieval.bm25Scores(corpus, qs, "doc_id", "text", "q_id", "qt"),
        "doc_id", topK = 3).orderBy("q_id", "rnk").collect()
    assert(viaTopK.toSeq == viaScores.toSeq)
  }
}

class NfcSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("NFC composes decomposed sequences; ASCII and null pass through") {
    val rows = Seq(
      (1L, "café naïve"),   // decomposed -> composes
      (2L, "café"),                 // already composed -> unchanged
      (3L, "plain ascii text"),
      (4L, null)
    ).toDF("id", "s")
      .select(col("id"), graft.functions.NormalizeNfc(col("s")).as("n"))
      .orderBy(col("id")).collect()
    assert(rows(0).getString(1) == "café naïve")
    assert(rows(1).getString(1) == "café")
    assert(rows(2).getString(1) == "plain ascii text")
    assert(rows(3).isNullAt(1))
    // the graded row plants on every third doc and flags exactly those
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("d_unicode_normalize")(spark, dir).collect()
    assert(out.forall(r => r.getBoolean(2) == (r.getLong(0) % 3 == 0)))
    assert(out.exists(_.getBoolean(2)))
  }
}

class StreamingPackSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.OutputMode
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.EventStream
  import graft.operators.{Splits, TextAnalysis}
  import spark.implicits._

  test("slidingChunks is batch-split invariant: streaming == batch chunking") {
    // the chunker is stateless per row (tokenize + window projections), so
    // the SAME operator runs unchanged on a stream in Append mode and any
    // micro-batch partition of the corpus yields the identical chunk set —
    // the ingest-side spelling of the RAG chunk -> embed -> store front end
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val load = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = load.as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.slidingChunks(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", size = 16, stride = 8)
      .writeStream.format("memory").queryName("chunk_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(docs.slice(0, 91), docs.slice(91, 260), docs.slice(260, docs.length))
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("chunk_eq").collect().map(_.toSeq).toSet
      val batch = TextAnalysis.slidingChunks(load, "doc_id", "text",
          size = 16, stride = 8).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("coChunkPairs is batch-split invariant: streaming == batch mining") {
    // positive-pair mining is stateless per doc (both slices come off
    // the row's own token array), so the SAME operator streams in
    // Append mode — contrastive pairs can be mined at ingest, not in a
    // nightly batch
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val load = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = load.as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val q = TextAnalysis.coChunkPairs(mem.toDF().toDF("doc_id", "text"),
        "doc_id", "text", size = 16, stride = 8)
      .writeStream.format("memory").queryName("cochunk_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(docs.slice(0, 137), docs.slice(137, 300), docs.slice(300, docs.length))
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("cochunk_eq").collect().map(_.toSeq).toSet
      val batch = TextAnalysis.coChunkPairs(load, "doc_id", "text",
          size = 16, stride = 8).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("online next-fit packing == batch packGreedy over uneven micro-batches") {
    // the stream IS the layout order: docs arrive in id order, batch
    // boundaries cut the stream at arbitrary points (137/211/152), and
    // the per-shard (bin, used) cursor must make every assignment equal
    // to the one-shot batch fold
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val load = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = load.as[(Long, String)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingPack(mem.toDF().toDF("doc_id", "text"),
        "doc_id", TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
      .writeStream.format("memory").queryName("pack_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(docs.slice(0, 137), docs.slice(137, 348), docs.slice(348, docs.length))
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("pack_eq").collect().map(_.toSeq).toSet
      val batch = Splits.packGreedy(load, "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 512, shards = 8)
        .collect().map(_.toSeq).toSet
      assert(batch.size == docs.length) // nothing over budget in this corpus
      assert(streamed == batch)
    } finally q.stop()
  }
}

class KCoreSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.operators.LinkRank

  private def edges(dir: String) = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val base = docs
      .select(col("doc_id").as("src"), explode(array(
        pmod(col("doc_id") + 17, lit(n)),
        pmod(col("doc_id") + 101, lit(n)),
        pmod(col("doc_id") * 3 + 7, lit(n)))).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val planted = docs.filter(col("doc_id") % 50 === 0)
    base.unionByName(planted.select(col("doc_id").as("src"))
      .crossJoin(planted.select(col("doc_id").as("dst")))
      .filter(col("src") < col("dst")))
  }

  test("the k=8 core is exactly the planted clique with its internal degree") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val out = SparkEntry.queries("d_kcore")(spark, dir).collect()
    val planted = Tables(spark, dir, "documents")
      .filter(col("doc_id") % 50 === 0).count()
    assert(out.length == planted)
    assert(out.map(_.getAs[Long]("node")).forall(_ % 50 == 0))
    // every clique member keeps AT LEAST its clique-internal degree; base
    // edges into fellow survivors may add a few
    out.foreach(r => assert(r.getAs[Long]("core_deg") >= planted - 1))
  }

  test("the peel budget reaches fixpoint: a deeper budget changes nothing") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val e = edges(dir).localCheckpoint()
    val r4 = LinkRank.kCore(e, k = 8, rounds = 4).collect().map(_.toSeq).toSet
    val r6 = LinkRank.kCore(e, k = 8, rounds = 6).collect().map(_.toSeq).toSet
    assert(r4 == r6, "rounds=4 must already be the fixpoint")
  }

  test("k above the max degree peels the graph to empty, never diverges") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    assert(LinkRank.kCore(edges(dir), k = 1000, rounds = 3).count() == 0)
  }

  test("an insufficient peel budget fails loudly instead of returning a superset") {
    import spark.implicits._
    // a path graph peels one endpoint pair per round under k=2: ten nodes
    // need ~4 rounds to empty, so rounds=1 must throw — never silently
    // return the half-peeled survivor set
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      LinkRank.kCore(path, k = 2, rounds = 1).count()
    }
    assert(e.getMessage.contains("did not reach fixpoint"), e.getMessage)
    // with budget to spare, the same graph cleanly empties (no 2-core)
    assert(LinkRank.kCore(path, k = 2, rounds = 8).count() == 0)
  }
}

class StreamingTargetEncodeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.OutputMode
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.streaming.EventStream
  import spark.implicits._

  test("frozen-encoder streaming == the batch plain-mean spelling") {
    // encoder trained on the even half; the odd half arrives as a stream
    // in uneven micro-batches and must score exactly like the batch
    // broadcast-join spelling of the same frozen table
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).isDirectory)
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("bigint").as("cents"))
    val encoder = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("event_type").as("cat"))
      .agg(sum(col("cents")).as("t_sum"), count(lit(1)).as("t_n"))
      .localCheckpoint()
    val live = ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("cents"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val mem = MemoryStream[(Long, String, Long)]
    val q = EventStream.streamingTargetEncode(
        mem.toDF().toDF("event_id", "event_type", "cents"),
        "event_id", "event_type", "cents", encoder)
      .writeStream.format("memory").queryName("tenc_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(live.slice(0, 977), live.slice(977, 2300),
          live.slice(2300, live.length))
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("tenc_eq")
        .select(col("event_id"), col("enc_micro"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      val batch = ev.filter(col("event_id") % 2 === 1)
        .join(broadcast(encoder), col("event_type") === col("cat"))
        .select(col("event_id"),
          expr("t_sum * 10000 div t_n").as("enc_micro"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(batch.size == live.length) // all 5 types seen in training
      assert(streamed == batch)
    } finally q.stop()
  }
}

class JlProjectionSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("the overall JL distortion concentrates near 1 and pairs stay bounded") {
    // E[sketch dist^2] = P * exact dist^2 for a Rademacher projection —
    // the sum-over-all-pairs ratio must land near 1e6 ppm, and no single
    // pair may collapse to 0 (which would mean the sign matrix is
    // degenerate for this data)
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val r = SparkEntry.queries("s_jl_distortion")(spark, dir).collect().head
    val overall = r.getAs[Long]("overall_ppm")
    assert(overall > 800000L && overall < 1250000L,
      s"overall distortion $overall ppm drifted from 1e6")
    assert(r.getAs[Long]("min_ppm") > 0L)
    assert(r.getAs[Long]("n_pairs") > 0L)
  }

  test("a null element nulls the whole sketch instead of projecting as 0.0") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0)),
      (2L, Seq[java.lang.Double](1.0, null)),
      (3L, null)
    ).toDF("id", "e")
      .select(col("id"),
        graft.functions.JlProject(col("e").cast("array<double>"), 4).as("pr"))
      .orderBy(col("id")).collect()
    assert(rows(0).getSeq[Long](1) != null)
    assert(rows(1).isNullAt(1), "null element must null the sketch")
    assert(rows(2).isNullAt(1), "null array must stay null")
  }

  test("the md5 sign matrix is near-balanced per projection row") {
    // 64 coin flips per row: a row with fewer than 16 of either sign
    // would be a suspicious digest-derivation bug, not bad luck
    (0 until 16).foreach { p =>
      val pos = (0 until 64).count { d =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"jl:$p:$d".getBytes("UTF-8"))
        val v = ((h(0) & 0xFFL) << 24) | ((h(1) & 0xFFL) << 16) |
          ((h(2) & 0xFFL) << 8) | (h(3) & 0xFFL)
        v % 2 == 0
      }
      assert(pos >= 16 && pos <= 48, s"row $p has $pos positive signs")
    }
  }
}

class JlKernelParitySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("fused JL kernel is bit-identical to the expression-tree spelling") {
    // the kernel replaces a 16x64-term expression tree; equality on real
    // embeddings (incl. negative dims, which exercise the half-away-
    // from-zero rounding the kernel must share with Spark's round())
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val emb = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val sg = graft.functions.JlKernel.signs(16, 64)
    val projCols = (0 until 16).map { p =>
      (0 until 64).map(d =>
        round(element_at(col("e"), d + 1) * 10000).cast("long") *
          lit(sg(p * 64 + d)))
        .reduce(_ + _)
    }
    val rows = emb.select(col("vec_id"),
        graft.functions.JlProject(col("e"), 16).as("fast"),
        array(projCols: _*).as("tree")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"kernel/tree mismatch at vec ${r.get(0)}")
    }
  }
}

class AutoCodebookSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.Similarity

  test("autoCodebookSize is sqrt(N) clamped to [cMin, cMax]") {
    assert(Similarity.autoCodebookSize(0) == 8)
    assert(Similarity.autoCodebookSize(100) == 10)
    assert(Similarity.autoCodebookSize(10000) == 100)
    assert(Similarity.autoCodebookSize(1000000) == 1000)
    assert(Similarity.autoCodebookSize(3) == 8)                 // floor
    assert(Similarity.autoCodebookSize(Long.MaxValue) == 4096)  // cap
    assert(Similarity.autoCodebookSize(100, cMin = 2, cMax = 4) == 4)
  }

  private def synth(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      // three separated directions + a per-id wobble: clusterable but
      // not degenerate
      val base = i % 3
      val v = Seq.tabulate(8)(d =>
        (if (d == base) 10.0 else 0.0) + 0.01 * ((i * 7 + d) % 5))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

  test("autoCoarseCodebook is deterministic and returns unit seeds") {
    val docs = synth(120)
    val a = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding")
    val b = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding")
    assert(a == b, "same corpus must freeze the same codebook")
    assert(a.size >= 8, s"sqrt(120)=11 clamped to >=8, got ${a.size}")
    a.foreach { s =>
      val norm = math.sqrt(s.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"seed not unit: $norm")
    }
  }

  test("share audit splits flagged hot clusters with their farthest member") {
    val docs = synth(100)
    // C forced to 2 on a 3-direction corpus: both clusters hold >5% of
    // rows, so BOTH are flagged and each contributes one extra seed
    val seeds = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding",
      cMin = 2, cMax = 2, maxSharePct = 5.0)
    assert(seeds.size == 4, s"2 seeds + 2 splits expected, got ${seeds.size}")
    // with a loose share bar nothing is flagged and the codebook stays C
    val loose = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding",
      cMin = 2, cMax = 2, maxSharePct = 100.0)
    assert(loose.size == 2, s"no split expected, got ${loose.size}")
  }

  test("writeIvfStoreAuto layout answers ivfSelfTopK with every row served") {
    val docs = synth(90)
    val path = java.nio.file.Files.createTempDirectory("ivfauto").toString
    val coarse = Similarity.writeIvfStoreAuto(docs, "vec_id", "embedding",
      path)
    val out = Similarity.ivfSelfTopK(spark.read.parquet(path), "vec_id",
      "embedding", k = 3, coarse = coarse, nprobe = 2)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.size == 90, s"every vector needs a neighbor list: ${byQ.size}")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 3 && rs.nonEmpty, s"query $q got ${rs.length}")
    }
    // the auto codebook must hold the share audit's own bar: no cluster
    // above ~2x the flag threshold after splitting
    val hist = spark.read.parquet(path).groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("m")).collect().map(_.getLong(1))
    assert(hist.max.toDouble / hist.sum <= 0.5,
      s"degenerate clustering: ${hist.mkString(",")}")
  }

  test("forgetIvfStoreAt compacts in place, equals a rebuild, and removes " +
      "fully-emptied directories") {
    import org.apache.spark.sql.functions.{col, lit}
    val docs = synth(60)  // 3 directions -> 3 populated clusters on basis seeds
    val seeds = Seq(
      Seq(1.0, 0, 0, 0, 0, 0, 0, 0),
      Seq(0, 1.0, 0, 0, 0, 0, 0, 0),
      Seq(0, 0, 1.0, 0, 0, 0, 0, 0))
    val path = java.nio.file.Files.createTempDirectory("ivfforget").toString
    Similarity.writeIvfStore(docs, "vec_id", "embedding", seeds, path)
    val before = spark.read.parquet(path)
    val dirs0 = before.select(col("centroid_id")).distinct().count()
    assert(dirs0 == 3, s"want 3 populated clusters, got $dirs0")
    // tombstone EVERY member of cluster 0 (vec_id % 3 == 0 by synth
    // construction) plus one member of cluster 1
    val tomb = docs.filter(col("vec_id") % 3 === 0 || col("vec_id") === 1L)
      .select(col("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, tomb, "vec_id")
    val after = spark.read.parquet(path)
    // removal ≡ rebuild on survivors with the same frozen codebook
    val rebuildPath = java.nio.file.Files
      .createTempDirectory("ivfforget_rb").toString
    Similarity.writeIvfStore(docs.join(tomb, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", seeds, rebuildPath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("centroid_id")).collect()
        .map(_.toSeq).toSet
    assert(rows(after) == rows(spark.read.parquet(rebuildPath)))
    // the fully-emptied directory is GONE on disk, not just empty-scanned
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path, "centroid_id=0")),
      "fully-tombstoned directory must be deleted")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "centroid_id=1")))
    // idempotent: a second compaction with the same tombstones is a no-op
    Similarity.forgetIvfStoreAt(spark, path, tomb, "vec_id")
    assert(rows(spark.read.parquet(path)) == rows(after))
  }

  test("the erasure sidecar mirrors the store through build, append, and " +
      "split re-homes — and forget finds hits by sidecar lookup alone") {
    import org.apache.spark.sql.functions.col
    def sidecarRows(p: String) = spark.read.parquet(s"$p/_graft_ids")
      .select(col("vec_id"), col("home").cast("int")).collect()
      .map(_.toSeq).toSet
    def storeRows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id").cast("int")).collect()
      .map(_.toSeq).toSet
    val docs = synth(120)
    val path = java.nio.file.Files.createTempDirectory("ivfsidecar").toString
    val cb = Similarity.autoTwoLevelCodebook(docs.filter(col("vec_id") < 80),
      "vec_id", "embedding")
    Similarity.writeIvfStoreTwoLevel(docs.filter(col("vec_id") < 80),
      "vec_id", "embedding", cb, path)
    // the invariant: sidecar (id -> home) IS the store's (id ->
    // centroid_id) projection — after build...
    assert(sidecarRows(path) == storeRows(path))
    // ...after a frozen-codebook append...
    Similarity.appendIvfStoreTwoLevel(docs.filter(col("vec_id") >= 80),
      "vec_id", "embedding", cb, path)
    assert(sidecarRows(path) == storeRows(path))
    // ...and after a grow round re-homes rows into fresh directories
    val grown = Similarity.splitHotChildrenAt(spark, path, "vec_id",
      "embedding", cb, maxSharePct = 5.0, persistTo = Some(path))
    assert(grown.size > cb.size, "share bar must force at least one split")
    assert(sidecarRows(path) == storeRows(path),
      "re-homed rows must re-point their sidecar entries")
    // forget rows INCLUDING re-homed ones: equals the rebuild on the
    // survivors under the grown codebook, and the sidecar forgot them too
    val tomb = docs.filter(col("vec_id") % 5 === 2).select(col("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, tomb, "vec_id")
    val rbPath = java.nio.file.Files
      .createTempDirectory("ivfsidecar_rb").toString
    Similarity.writeIvfStoreTwoLevel(
      docs.join(tomb, Seq("vec_id"), "left_anti"), "vec_id", "embedding",
      grown, rbPath)
    assert(storeRows(path) == storeRows(rbPath))
    assert(sidecarRows(path) == storeRows(path))
    // pre-sidecar stores keep the legacy full-scan finder: drop the
    // sidecar, forget again — still exact
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_graft_ids"), true)
    val tomb2 = docs.filter(col("vec_id") % 5 === 3).select(col("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, tomb2, "vec_id")
    val rb2 = java.nio.file.Files
      .createTempDirectory("ivfsidecar_rb2").toString
    Similarity.writeIvfStoreTwoLevel(
      docs.join(tomb.unionByName(tomb2), Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", grown, rb2)
    assert(storeRows(path) == storeRows(rb2))
  }

  test("forgetIvfStoreAt erases exactly even when the tombstone ids arrive " +
      "as a DIFFERENT numeric type than the store's id column") {
    // xxhash64 is type-sensitive: an INT tombstone against a LONG store
    // id column used to compute the wrong sidecar buckets, prune the
    // wrong directories, and silently no-op the erasure — a GDPR miss
    // with no error. The finder now casts to the store's id type first.
    import org.apache.spark.sql.functions.col
    val docs = synth(60) // vec_id is LONG
    val seeds = Seq(
      Seq(1.0, 0, 0, 0, 0, 0, 0, 0),
      Seq(0, 1.0, 0, 0, 0, 0, 0, 0),
      Seq(0, 0, 1.0, 0, 0, 0, 0, 0))
    val path = java.nio.file.Files.createTempDirectory("ivftomtype").toString
    Similarity.writeIvfStore(docs, "vec_id", "embedding", seeds, path)
    // the same ids as INTs (the csv-inferSchema delivery shape)...
    val tombInt = Seq(3, 7, 12).toDF("vec_id")
      .select(col("vec_id").cast("int").as("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, tombInt, "vec_id")
    val left = spark.read.parquet(path).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    assert(!left.contains(3L) && !left.contains(7L) && !left.contains(12L),
      s"int-typed tombstones must erase long-id store rows, left=$left")
    // ...and the sidecar forgot them too (no phantom erasure entries)
    val side = spark.read.parquet(s"$path/_graft_ids")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(side == left)
    // ids outside the store type's range are harmless non-members, not
    // an ANSI cast abort: a DOUBLE-typed frame with a fractional id
    val tombWide = Seq(5.0, 1e18).toDF("vec_id")
    Similarity.forgetIvfStoreAt(spark, path, tombWide, "vec_id")
    assert(!spark.read.parquet(path).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet.contains(5L))
    // the BM25, winnow and NB stores share the one typed intake: int
    // tombstones erase their long-id rows exactly (forget ≡ rebuild)
    val words = Seq("spark", "duck", "pond", "river", "stone", "cloud")
    val texts = (1L to 12L).map { i =>
      (i, (0 until 9).map(j => words(((i + j * j) % 6).toInt))
        .mkString(" "), if (i % 2 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")
    // 4 and 9 hash to other directories as ints than as longs (at 4 and
    // at 16 buckets), so an uncast batch would prune them away
    val erased = Seq(4, 9).toDF("doc_id")
      .select(col("doc_id").cast("int").as("doc_id"))
    val survivors = texts.filter(!col("doc_id").isin(4L, 9L))
    def store(prefix: String) =
      java.nio.file.Files.createTempDirectory(prefix).toString
    def tables(p: String, names: String*) = names.map(t =>
      spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSet)
    val bm25 = store("bm25tomtype")
    val bm25Rb = store("bm25tomtype_rb")
    Retrieval.writeBm25Store(texts, "doc_id", "text", bm25, buckets = 4)
    Retrieval.forgetBm25StoreAt(spark, bm25, erased, "doc_id")
    Retrieval.writeBm25Store(survivors, "doc_id", "text", bm25Rb,
      buckets = 4)
    assert(tables(bm25, "postings", "dfreq", "stats", "docs") ==
      tables(bm25Rb, "postings", "dfreq", "stats", "docs"))
    val winnow = store("winnowtomtype")
    val winnowRb = store("winnowtomtype_rb")
    Dedup.writeWinnowStoreAt(spark, winnow, texts, "doc_id", "text")
    Dedup.forgetWinnowStoreAt(spark, winnow, erased, "doc_id")
    Dedup.writeWinnowStoreAt(spark, winnowRb, survivors, "doc_id", "text")
    assert(tables(winnow, "fps", "docs").head.nonEmpty)
    assert(tables(winnow, "fps", "docs") == tables(winnowRb, "fps", "docs"))
    val nb = store("nbtomtype")
    val nbRb = store("nbtomtype_rb")
    Classify.writeNbStore(texts, "doc_id", "text", "lang", nb)
    Classify.forgetNbStoreAt(spark, nb, texts.filter(col("doc_id").isin(4L, 9L))
      .select(col("doc_id").cast("int").as("doc_id"), col("text"),
        col("lang")), "doc_id", "text", "lang")
    Classify.writeNbStore(survivors, "doc_id", "text", "lang", nbRb)
    assert(tables(nb, "model", "base", "docs") ==
      tables(nbRb, "model", "base", "docs"))
  }

  test("ann-search dispatches the FLAT-routed PQ codes kind too: extractor " +
      "rows equal ivfPqTopKStored through the rerank store") {
    // the two_level_pq branch is e2e-pinned in RecipeAgentSpec; this
    // covers the 'pq' kind (writePqStore + writePqCodebooksAt layouts
    // built from the library) so every codebookKindAt arm is exercised
    import org.apache.spark.sql.functions.col
    val docs = synth(60)
    val coarse = Seq(
      Seq(1.0, 0, 0, 0, 0, 0, 0, 0),
      Seq(0, 1.0, 0, 0, 0, 0, 0, 0),
      Seq(0, 0, 1.0, 0, 0, 0, 0, 0))
    val sample = Similarity.normalized(
        docs.select(col("vec_id"),
          col("embedding").cast("array<double>").as("__u")), "__u")
      .orderBy(col("vec_id")).limit(32).select(col("__u"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val codebooks = Similarity.pqTrain(sample, m = 4, k = 8)
    val dir = java.nio.file.Files.createTempDirectory("annpqflat")
    val idx = dir.resolve("pq").toString
    val rrk = dir.resolve("vec").toString
    Similarity.writePqStore(docs, "vec_id", "embedding", coarse,
      codebooks, idx)
    Similarity.writePqCodebooksAt(spark, idx, coarse, codebooks)
    Similarity.writeVectorStore(docs, "vec_id", "embedding", rrk)
    assert(Similarity.codebookKindAt(spark, idx) == "pq")
    val queries = docs.filter(col("vec_id") < 3)
    queries.write.parquet(s"$dir/q")
    val served = graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> idx, "queries_path" -> s"$dir/q",
        "rerank_store_path" -> rrk, "top_k" -> 5, "shortlist" -> 20))
      .collect().map(_.toSeq).toSet
    val direct = Similarity.ivfPqTopKStored(spark.read.parquet(idx),
        queries, "vec_id", "embedding", k = 5, coarse, codebooks,
        vectorStore = Similarity.readVectorStore(spark, rrk),
        nprobe = 3, shortlist = 20, excludeSelf = false)
      .collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served == direct)
    // member queries see their own stored copy (the extractor's
    // exclude_self default is OFF); the self-kNN default still excludes
    val self = Similarity.ivfPqTopKStored(spark.read.parquet(idx),
        queries, "vec_id", "embedding", k = 5, coarse, codebooks,
        vectorStore = Similarity.readVectorStore(spark, rrk),
        nprobe = 3, shortlist = 20)
      .collect().map(_.toSeq).toSet
    assert(direct.exists(r => r(0) == r(1)) &&
      !self.exists(r => r(0) == r(1)))
  }

  test("two-level PQ codes store: appends fold to exactly a write-all " +
      "layout, and the stored query equals it after the append") {
    import org.apache.spark.sql.functions.col
    val docs = synth(120)
    val first = docs.filter(col("vec_id") < 80)
    val cb = Similarity.autoTwoLevelCodebook(first, "vec_id", "embedding")
    // portable-ish subquantizers for the spec: first 4 rows' slices
    val seeds = docs.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val codebooks = (0 until 4).map(s0 => seeds.map(_.slice(s0 * 2, s0 * 2 + 2)))
    val path = java.nio.file.Files.createTempDirectory("pq2append").toString
    Similarity.writePqStoreTwoLevel(first, "vec_id", "embedding", cb,
      codebooks, path)
    Similarity.appendPqStoreTwoLevel(docs.filter(col("vec_id") >= 80),
      "vec_id", "embedding", cb, codebooks, path)
    val rbPath = java.nio.file.Files.createTempDirectory("pq2rb").toString
    Similarity.writePqStoreTwoLevel(docs, "vec_id", "embedding", cb,
      codebooks, rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("pq_codes"), col("centroid_id").cast("int"))
      .collect().map(_.toSeq).toSet
    assert(rows(path) == rows(rbPath))
    // the sidecar mirrors the appended store too (erasure-ready)
    assert(spark.read.parquet(s"$path/_graft_ids")
      .select(col("vec_id"), col("home").cast("int")).collect()
      .map(_.toSeq).toSet ==
      spark.read.parquet(path)
        .select(col("vec_id"), col("centroid_id").cast("int")).collect()
        .map(_.toSeq).toSet)
  }

  test("autoTwoLevelCodebook is deterministic, unit-normal, and sqrt-shaped") {
    val docs = synth(120)
    val a = Similarity.autoTwoLevelCodebook(docs, "vec_id", "embedding")
    val b = Similarity.autoTwoLevelCodebook(docs, "vec_id", "embedding")
    assert(a == b, "same corpus must freeze the same codebook")
    // C = sqrt(120) -> 11; T = ceil(sqrt 11) = 4 tops, quota 3 each
    assert(a.tops.size >= 2 && a.tops.size <= 6, s"T=${a.tops.size}")
    assert(a.size >= 8, s"total children ${a.size}")
    (a.tops ++ a.flat).foreach { s =>
      val norm = math.sqrt(s.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9, s"centroid not unit: $norm")
    }
    // global ids are contiguous: base offsets prefix-sum the child counts
    assert(a.base == a.children.map(_.size).scanLeft(0)(_ + _).init)
  }

  test("splitHotChildrenAt grows hot children in place with stable ids, " +
      "equal to a rebuild under the grown codebook") {
    import org.apache.spark.sql.functions.col
    val docs = synth(90)  // 3 directions, 30 rows each
    val e = (d: Int) => Seq.tabulate(8)(i => if (i == d) 1.0 else 0.0)
    // three tops, one child each (the top itself): every child holds
    // ~33% of rows, so ALL three get flagged and split
    val cb = Similarity.TwoLevelCodebook(
      Seq(e(0), e(1), e(2)), Seq(Seq(e(0)), Seq(e(1)), Seq(e(2))))
    assert(cb.gids == Seq(Seq(0), Seq(1), Seq(2)))
    val path = java.nio.file.Files.createTempDirectory("ivf2grow").toString
    Similarity.writeIvfStoreTwoLevel(docs, "vec_id", "embedding", cb, path)
    val grown = Similarity.splitHotChildrenAt(spark, path,
      "vec_id", "embedding", cb, maxSharePct = 5.0)
    // fresh ids allocated PAST every existing one; old ids untouched
    assert(grown.children.map(_.size) == Seq(2, 2, 2), grown.gids.toString)
    assert(grown.gids == Seq(Seq(0, 3), Seq(1, 4), Seq(2, 5)),
      grown.gids.toString)
    // the grown store equals a from-scratch layout under the grown
    // codebook, row for row
    val rbPath = java.nio.file.Files
      .createTempDirectory("ivf2grow_rb").toString
    Similarity.writeIvfStoreTwoLevel(docs, "vec_id", "embedding", grown,
      rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id")).collect()
        .map(_.toSeq).toSet
    val after = rows(path)
    assert(after == rows(rbPath))
    // the split genuinely moved rows into the new directories
    val newDirRows = spark.read.parquet(path)
      .filter(col("centroid_id") >= 3).count()
    assert(newDirRows > 0, "split must populate the fresh child ids")
    // a relaxed share bar is a no-op that returns the codebook unchanged
    val same = Similarity.splitHotChildrenAt(spark, path,
      "vec_id", "embedding", grown, maxSharePct = 100.0)
    assert(same == grown)
    assert(rows(path) == after)
    // queries against the grown layout fill their k slots
    val out = Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(path),
      docs.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      grown, nprobeTop = 2, nprobe = 3)
    assert(out.count() == 9)
  }

  test("writeIvfStoreTwoLevelAuto layout serves every row through the kernel probes") {
    val docs = synth(90)
    val path = java.nio.file.Files.createTempDirectory("ivf2auto").toString
    val cb = Similarity.writeIvfStoreTwoLevelAuto(docs, "vec_id", "embedding",
      path)
    val out = Similarity.ivfSelfTopKTwoLevel(spark.read.parquet(path),
      "vec_id", "embedding", k = 3, cb, nprobeTop = 2, nprobe = 2)
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.size == 90, s"every vector needs a neighbor list: ${byQ.size}")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= 3 && rs.nonEmpty, s"query $q got ${rs.length}")
    }
    // stored centroid ids live in the codebook's global id space, more
    // than one top cell is populated, and no child cluster degenerates
    val hist = spark.read.parquet(path).groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("m")).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    assert(hist.forall { case (g, _) => g >= 0 && g < cb.size }, hist.mkString(","))
    val topsHit = hist.map { case (g, _) =>
      cb.base.lastIndexWhere(_ <= g) }.distinct
    assert(topsHit.size > 1, s"hierarchy collapsed to one top: $topsHit")
    val ms = hist.map(_._2)
    assert(ms.max.toDouble / ms.sum <= 0.5,
      s"degenerate clustering: ${hist.mkString(",")}")
  }

  test("persisted codebooks round-trip bit-exact and assign identically") {
    val docs = synth(90)
    // FLAT: write → read returns the same doubles (parquet DOUBLE is
    // IEEE-754, no precision loss), so assignment cannot drift
    val flatPath = java.nio.file.Files
      .createTempDirectory("cbflat").toString
    val coarse = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding")
    Similarity.writeCodebookAt(spark, flatPath, coarse)
    assert(Similarity.readCoarseCodebookAt(spark, flatPath) == coarse)
    // TWO-LEVEL, including a GROWN codebook whose gids are explicit and
    // non-contiguous — the exact shape that must never re-derive
    val e = (d: Int) => Seq.tabulate(8)(i => if (i == d) 1.0 else 0.0)
    val cb = Similarity.TwoLevelCodebook(
      Seq(e(0), e(1), e(2)), Seq(Seq(e(0)), Seq(e(1)), Seq(e(2))))
    val storePath = java.nio.file.Files
      .createTempDirectory("cb2lvl").toString
    Similarity.writeIvfStoreTwoLevel(docs, "vec_id", "embedding", cb,
      storePath)
    val grown = Similarity.splitHotChildrenAt(spark, storePath,
      "vec_id", "embedding", cb, maxSharePct = 5.0)
    assert(grown.gids.flatten != grown.flat.indices.toSeq,
      "precondition: the grown codebook must carry explicit gids")
    Similarity.writeCodebookAt(spark, storePath, grown)
    val back = Similarity.readTwoLevelCodebookAt(spark, storePath)
    assert(back.tops == grown.tops)
    assert(back.children == grown.children)
    assert(back.gids == grown.gids)
    // the reloaded codebook probes the grown store identically
    val qs = docs.filter(col("vec_id") < 3)
    val store = spark.read.parquet(storePath)
    val a = Similarity.ivfTopKStoredTwoLevel(store, qs, "vec_id",
      "embedding", k = 3, grown, nprobeTop = 2, nprobe = 3)
      .collect().map(_.toSeq).toSet
    val b = Similarity.ivfTopKStoredTwoLevel(store, qs, "vec_id",
      "embedding", k = 3, back, nprobeTop = 2, nprobe = 3)
      .collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
    // kind mismatch fails loudly, never probes silently
    intercept[IllegalArgumentException] {
      Similarity.readCoarseCodebookAt(spark, storePath)
    }
    intercept[IllegalArgumentException] {
      Similarity.readTwoLevelCodebookAt(spark, flatPath)
    }
    // PQ: the (coarse router, m subquantizer) PAIR round-trips — codes
    // are indexes into these centroids, so both must reload exactly
    val pqPath = java.nio.file.Files.createTempDirectory("cbpq").toString
    val sub = coarse.head.size / 2
    val books = (0 until 2).map(m =>
      coarse.map(_.slice(m * sub, (m + 1) * sub)))
    Similarity.writePqCodebooksAt(spark, pqPath, coarse, books)
    val (cBack, bBack) = Similarity.readPqCodebooksAt(spark, pqPath)
    assert(cBack == coarse && bBack == books)
    intercept[IllegalArgumentException] {
      Similarity.readPqCodebooksAt(spark, flatPath)
    }
  }

  test("forgetIvfStoreAt survives erasing EVERY row: the store stays " +
      "readable, re-forgettable, and appendable") {
    val docs = synth(30)
    val coarse = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("ivfforget_all").toString
    Similarity.writeIvfStore(docs, "vec_id", "embedding", coarse, path)
    val everything = docs.select(col("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, everything, "vec_id")
    // without the sentinel zero-row file the next read throws 'Unable
    // to infer schema' — the erase-all request must leave a valid store
    assert(spark.read.parquet(path).count() == 0)
    // idempotent: a second erase-all pass is a no-op, not a crash
    Similarity.forgetIvfStoreAt(spark, path, everything, "vec_id")
    assert(spark.read.parquet(path).count() == 0)
    // the emptied store accepts appends and answers queries again
    val fresh = synth(90).filter(col("vec_id") >= 60)
    Similarity.appendIvfStore(fresh, "vec_id", "embedding", coarse, path)
    val out = Similarity.ivfTopKStored(spark.read.parquet(path),
      fresh.limit(3), "vec_id", "embedding", k = 2, coarse, nprobe = 3)
    assert(out.count() > 0)
  }

  test("grown codebook's flat view is global-id order (position == gid)") {
    val docs = synth(90)
    val e = (d: Int) => Seq.tabulate(8)(i => if (i == d) 1.0 else 0.0)
    val cb = Similarity.TwoLevelCodebook(
      Seq(e(0), e(1), e(2)), Seq(Seq(e(0)), Seq(e(1)), Seq(e(2))))
    val path = java.nio.file.Files
      .createTempDirectory("ivf2flat").toString
    Similarity.writeIvfStoreTwoLevel(docs, "vec_id", "embedding", cb, path)
    val grown = Similarity.splitHotChildrenAt(spark, path,
      "vec_id", "embedding", cb, maxSharePct = 5.0)
    // gids interleave across tops after growth (0,3 / 1,4 / 2,5) — the
    // flat view must STILL satisfy flat(gid) == the child with that gid,
    // or any flat-indexed consumer mis-addresses every grown centroid
    val byGid = grown.gids.flatten.zip(grown.children.flatten).toMap
    val flat = grown.flat
    assert(flat.size == grown.size)
    byGid.foreach { case (g, v) => assert(flat(g) == v, s"gid $g") }
  }

  test("appendPqStore folds batches to exactly a write-all codes layout; " +
      "forget composes on the codes store") {
    val docs = synth(90)
    val coarse = Similarity.autoCoarseCodebook(docs, "vec_id", "embedding")
    val sub = coarse.head.size / 2
    val books = (0 until 2).map(m =>
      coarse.map(_.slice(m * sub, (m + 1) * sub)))
    val b1 = docs.filter(col("vec_id") < 60)
    val b2 = docs.filter(col("vec_id") >= 60)
    val path = java.nio.file.Files.createTempDirectory("pqappend").toString
    Similarity.writePqStore(b1, "vec_id", "embedding", coarse, books, path)
    Similarity.appendPqStore(b2, "vec_id", "embedding", coarse, books, path)
    val rbPath = java.nio.file.Files
      .createTempDirectory("pqappend_rb").toString
    Similarity.writePqStore(docs, "vec_id", "embedding", coarse, books,
      rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("pq_codes"), col("centroid_id"))
      .collect().map(_.toSeq.map {
        case s: scala.collection.Seq[_] => s.toList
        case x => x
      }).toSet
    assert(rows(path).nonEmpty && rows(path) == rows(rbPath))
    // deletion composes unchanged: the codes layout carries exactly the
    // (id, centroid_id) pair forgetIvfStoreAt compacts on
    val tomb = docs.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id"))
    Similarity.forgetIvfStoreAt(spark, path, tomb, "vec_id")
    val survPath = java.nio.file.Files
      .createTempDirectory("pqappend_sv").toString
    Similarity.writePqStore(
      docs.filter(col("vec_id") % 7 =!= 3), "vec_id", "embedding",
      coarse, books, survPath)
    assert(rows(path) == rows(survPath))
  }
}

class CertificatesAtBenchSfSpec extends SparkSpec {
  // The no_oracle sketch rows are graded through certificates; these two
  // are cheap enough to re-assert at the BENCH SF (sf0.1), so the
  // certificate story holds at the graded scale, not just test fixtures.
  // Skipped cleanly when the driver testdata is absent.
  private val benchSf = "/root/testdata/sf0.1"

  test("simhash kernel parity certificate holds at sf0.1") {
    assume(new java.io.File(benchSf).isDirectory)
    val r = SparkEntry.queries("d_simhash_kernel_parity")(spark, benchSf)
      .collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) > 0, "vacuous certificate: zero docs compared")
    assert(r(0).getLong(1) == 0,
      s"${r(0).getLong(1)} of ${r(0).getLong(0)} sketches diverge from the " +
        "relational spelling at the bench SF")
  }

  test("HLL distinct-count certificate holds at sf0.1") {
    assume(new java.io.File(benchSf).isDirectory)
    val r = SparkEntry.queries("q_sketch_distinct_cert")(spark, benchSf)
      .collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) > 0, "vacuous certificate: zero exact distincts")
    assert(r(0).getBoolean(1),
      s"merged HLL estimate outside the 5% band of exact=${r(0).getLong(0)}")
  }
}

class Bm25FieldedSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("bm25f ranks a title hit above the same hit buried in the body") {
    // identical length and tf; only the field differs — the 2x title
    // weight must order A above B
    val corpus = Seq(
      (1L, "spark engine alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta spark engine"),
      (3L, "unrelated words entirely different content here now today ok")
    ).toDF("doc_id", "text")
    val qs = Seq((100L, "spark")).toDF("q_id", "qt")
    val r = Retrieval.bm25fTopK(corpus, qs, "doc_id", "text", "q_id", "qt")
      .orderBy("rnk").collect()
    assert(r.map(_.getLong(2)).take(2).toSeq == Seq(1L, 2L),
      r.map(x => (x.getLong(2), x.getLong(3))).mkString(","))
    assert(r(0).getLong(3) > r(1).getLong(3), "title hit must score higher")
    assert(!r.map(_.getLong(2)).contains(3L), "non-matching doc leaked in")
  }

  test("bm25f degenerates to whole-doc RANKING when weights are equal " +
      "and the title window covers the doc") {
    // tf\u0303/(k1+tf\u0303) with tf\u0303 = tf/norm equals BM25's saturation up to
    // the constant (k1+1) numerator BM25F omits \u2014 a rank-preserving
    // scale, so the RANKINGS must coincide even though scores differ
    val corpus = Seq(
      (1L, "ducks swim"), (2L, "ducks ducks swim"), (3L, "cats sit")
    ).toDF("doc_id", "text")
    val qs = Seq((9L, "ducks")).toDF("q_id", "qt")
    val f = Retrieval.bm25fTopK(corpus, qs, "doc_id", "text", "q_id", "qt",
        titleTokens = 100, wTitle = 1.0, wBody = 1.0)
      .select("q_id", "rnk", "doc_id").orderBy("rnk").collect()
    val plain = Retrieval.bm25TopK(corpus, qs, "doc_id", "text", "q_id", "qt")
      .select("q_id", "rnk", "doc_id").orderBy("rnk").collect()
    assert(f.toSeq == plain.toSeq,
      s"degenerate BM25F must rank like BM25: ${f.toSeq} vs ${plain.toSeq}")
  }

  test("bm25f stored spelling is row-identical to the inline build") {
    val corpus = Seq(
      (1L, "spark engine alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta spark engine"),
      (3L, "spark spark unrelated words beyond the title window here x")
    ).toDF("doc_id", "text")
    val qs = Seq((100L, "spark engine"), (200L, "theta")).toDF("q_id", "qt")
    val path = java.nio.file.Files.createTempDirectory("bm25fstore").toString
    Retrieval.writeBm25fStore(corpus, "doc_id", "text", path)
    val inline = Retrieval.bm25fTopK(corpus, qs, "doc_id", "text",
      "q_id", "qt").orderBy("q_id", "rnk").collect()
    val stored = Retrieval.bm25fTopKStored(Retrieval.readBm25fStore(spark, path),
      qs, "doc_id", "q_id", "qt").orderBy("q_id", "rnk").collect()
    assert(inline.toSeq == stored.toSeq)
    assert(inline.nonEmpty)
  }

  test("prf expansion surfaces a doc sharing NO original query term") {
    // "ducks" docs all mention ponds (heavily — fbtf must beat the
    // high-idf singleton terms, the classic PRF weight tradeoff); doc 4
    // is ponds-only — invisible to pass 1, reachable only through the
    // mined expansion term
    val corpus = Seq(
      (1L, "ducks ponds ponds ponds swim"),
      (2L, "ducks ponds ponds ponds swim"),
      (3L, "ducks ponds ponds ponds swim"),
      (4L, "ponds morning sky water light"),
      (5L, "cars asphalt roads engine oil")
    ).toDF("doc_id", "text")
    val qs = Seq((100L, "ducks")).toDF("q_id", "qt")
    val pass1 = Retrieval.bm25TopK(corpus, qs, "doc_id", "text", "q_id", "qt")
      .collect().map(_.getLong(2)).toSet
    assert(!pass1.contains(4L), "sanity: pass 1 cannot see the ponds doc")
    val prf = Retrieval.bm25PrfTopK(corpus, qs, "doc_id", "text",
        "q_id", "qt", fbDocs = 3, fbTerms = 1)
      .collect().map(_.getLong(2)).toSet
    assert(prf.contains(4L),
      s"expansion must pull in the ponds-only doc: got $prf")
    assert(!prf.contains(5L), "unrelated doc must stay out")
  }

  test("prf stored spelling is row-identical to the inline build") {
    // the graded shape on real data: first five sf0.001 docs as queries,
    // both PRF passes (feedback ranking, expansion mining, re-score) off
    // the written store must reproduce the inline spelling bit-for-bit —
    // same integers (tf/dl/df/N/tot), same expressions, same tie rules
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val queries = docs.filter(col("doc_id") < 5)
    val path = java.nio.file.Files
      .createTempDirectory("bm25prfstore").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 4)
    val store = Retrieval.readBm25Store(spark, path)
    val inline = Retrieval.bm25PrfTopK(docs, queries,
      "doc_id", "text", "doc_id", "text").collect().map(_.toSeq).toSet
    val stored = Retrieval.bm25PrfTopKStored(store, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSet
    assert(inline.nonEmpty && inline == stored)
  }

  test("bm25fApplyDelta merges a batch to exactly the rebuilt fielded index") {
    // store = docs < 250, batch = docs >= 250: merged postings and stats
    // must equal a from-scratch fielded build on the full corpus, and the
    // stored ranking over the merged components must equal the inline
    // full-corpus ranking (the d_bm25_incremental discipline, fielded)
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25fdelta").toString
    Retrieval.writeBm25fStore(docs.filter(col("doc_id") < 250),
      "doc_id", "text", path, titleTokens = 8, buckets = 4)
    val merged = Retrieval.bm25fApplyDelta(
      Retrieval.readBm25fStore(spark, path),
      docs.filter(col("doc_id") >= 250), "doc_id", "text", titleTokens = 8)
    val fullPath = java.nio.file.Files
      .createTempDirectory("bm25ffull").toString
    Retrieval.writeBm25fStore(docs, "doc_id", "text", fullPath,
      titleTokens = 8, buckets = 4)
    val rebuilt = Retrieval.readBm25fStore(spark, fullPath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.postings) == rows(rebuilt.postings))
    assert(rows(merged.stats) == rows(rebuilt.stats))
    val queries = docs.filter(col("doc_id") < 5)
    val viaMerged = Retrieval.bm25fTopKStored(merged, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSet
    val viaInline = Retrieval.bm25fTopK(docs, queries,
      "doc_id", "text", "doc_id", "text").collect().map(_.toSeq).toSet
    assert(viaMerged.nonEmpty && viaMerged == viaInline)
  }

  test("fielded mergeBm25StoreAt persists a merge identical to a rebuild") {
    // the fielded sibling of the plain merge's pin: postings append +
    // stats replacement in place, re-read equals a from-scratch fielded
    // build — components AND the stored ranking
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25fmergeat").toString
    Retrieval.writeBm25fStore(docs.filter(col("doc_id") < 250),
      "doc_id", "text", path, titleTokens = 8, buckets = 4)
    assert(Retrieval.mergeBm25StoreAt(spark, path,
      docs.filter(col("doc_id") >= 250), "doc_id", "text", buckets = 4,
      fielded = true, titleTokens = 8) ==
      docs.filter(col("doc_id") >= 250).count())
    val merged = Retrieval.readBm25fStore(spark, path)
    val rbPath = java.nio.file.Files
      .createTempDirectory("bm25fmerge_rb").toString
    Retrieval.writeBm25fStore(docs, "doc_id", "text", rbPath,
      titleTokens = 8, buckets = 4)
    val rebuilt = Retrieval.readBm25fStore(spark, rbPath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged.postings) == rows(rebuilt.postings))
    assert(rows(merged.stats) == rows(rebuilt.stats))
    val queries = docs.filter(col("doc_id") < 5)
    val a = Retrieval.bm25fTopKStored(merged, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSet
    val b = Retrieval.bm25fTopKStored(rebuilt, queries,
      "doc_id", "doc_id", "text").collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("bm25fApplyDelta counts batch docs even when a field gets no tokens") {
    // a batch of 1-token docs contributes nothing to the body field (and
    // a zero-token doc nothing at all), but n_docs — the avgdl_f
    // denominator — must still grow by the FULL batch size on EVERY
    // field row, exactly as a rebuild would count them
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val batch = Seq((3L, "solo"), (4L, "   ")).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("bm25fshort").toString
    Retrieval.writeBm25fStore(base, "doc_id", "text", path)
    val merged = Retrieval.bm25fApplyDelta(
      Retrieval.readBm25fStore(spark, path), batch, "doc_id", "text")
    val got = merged.stats.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // rebuild on the combined corpus: 4 docs; title tokens 8+3+1 = 12
    // (title window = 8), body tokens 2+0+0 = 2
    assert(got == Set(("t", 4L, 12L), ("b", 4L, 2L)), got.toString)
  }
}

class TrainingExampleSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("co-chunk pairs never share a token position and cover every " +
      "eligible chunk") {
    val doc = (1 to 40).map(i => s"w$i").mkString(" ")  // 40 tokens
    val df = Seq((7L, doc)).toDF("doc_id", "text")
    val pairs = TextAnalysis.coChunkPairs(df, "doc_id", "text",
      size = 16, stride = 8).collect()
    // last chunk id = ceil((40-16)/8) = 3; gap 2 -> a in 0..1
    assert(pairs.length == 2, pairs.mkString(","))
    pairs.foreach { r =>
      val a = r.getString(3).split(" ").toSet
      val b = r.getString(4).split(" ").toSet
      assert(a.intersect(b).isEmpty,
        s"overlapping positive pair: ${a.intersect(b)}")
      assert(r.getInt(2) - r.getInt(1) == 2)
    }
    // a doc too short for two disjoint chunks yields nothing
    val short = Seq((8L, (1 to 20).map(i => s"s$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.coChunkPairs(short, "doc_id", "text",
      size = 16, stride = 8).count() == 0)
  }

  test("fim split reassembles to the original token stream") {
    val docs = Seq(
      (1L, (1 to 30).map(i => s"t$i").mkString(" ")),
      (2L, "exactly three tokens"),
      (3L, "too short"),                  // < 3 tokens -> no example
      (4L, "a b c d e f g h i j")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.fimSplit(docs, "doc_id", "text").collect()
    assert(!out.map(_.getLong(0)).contains(3L))
    out.foreach { r =>
      val in = r.getString(3); val mid = r.getString(4)
      assert(in.startsWith("<PRE> ") && in.endsWith(" <MID>") &&
        in.contains(" <SUF> "), in)
      val body = in.stripPrefix("<PRE> ").stripSuffix(" <MID>")
      val Array(pre, suf) = body.split(" <SUF> ", 2)
      val orig = docs.filter(col("doc_id") === r.getLong(0))
        .head().getString(1).trim.split("\\s+").mkString(" ")
      assert(Seq(pre, mid, suf).mkString(" ") == orig,
        s"doc ${r.getLong(0)}: reassembly mismatch")
      assert(mid.nonEmpty && pre.nonEmpty && suf.nonEmpty,
        s"empty span in doc ${r.getLong(0)}")
    }
    // determinism: the same doc always cuts at the same points
    val again = TextAnalysis.fimSplit(docs, "doc_id", "text").collect()
    assert(out.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }
}
