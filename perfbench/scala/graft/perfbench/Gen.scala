package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed always yields the same files;
  * the sizes are fixed per workload and the seed only moves content and
  * order, so runs with different seeds measure the same amount of work.
  */
object Gen {

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "be", "da", "fu", "go", "hi", "je", "pa", "ze")

  /** Distinct pseudo-word for rank i: two to four syllables. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb ++= syllables(x % 16); x /= 16 } while (x > 0)
    if (sb.length < 4) sb ++= "ra"
    sb.toString
  }

  private def text(r: SplittableRandom, z: Zipf, minTok: Int, maxTok: Int): String =
    Iterator.fill(minTok + r.nextInt(maxTok - minTok + 1))(word(z.sample(r))).mkString(" ")

  // ------------------------------------------------------------- curate

  final case class Corpus(docs: Seq[(Long, String)], dups: Set[Long],
                          nearDups: Set[Long], emails: Set[Long], lowQuality: Set[Long])

  /** Zipf corpus in batches with planted shares, exactly 6 % of every
    * batch each: copies of an earlier clean doc, near copies (one token
    * edited), docs carrying an email address, docs too short for the
    * quality gate. Every batch has the same mix and the same multiset of
    * fresh-doc lengths (20-60 tokens); the seed draws positions, words and
    * which earlier docs are copied.
    */
  def curateCorpus(seed: Long, batches: Int, batchSize: Int): Corpus = {
    val r = new SplittableRandom(seed * 31 + 7)
    val z = new Zipf(3000, 1.05)
    val planted = math.round(batchSize * 0.06).toInt
    val n = batches * batchSize
    val docs = Array.ofDim[String](n)
    val clean = scala.collection.mutable.ArrayBuffer[Int]()
    val dups, near, emails, low = Set.newBuilder[Long]
    def shuffled[T](xs: Seq[T]): Seq[T] = xs.map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2)
    def fresh(len: Int): String = Iterator.fill(len)(word(z.sample(r))).mkString(" ")
    for (b <- 0 until batches) {
      val kinds = shuffled(Seq.fill(planted)("dup") ++ Seq.fill(planted)("near") ++
        Seq.fill(planted)("email") ++ Seq.fill(planted)("low") ++
        Seq.fill(batchSize - 4 * planted)("clean"))
      val lens = shuffled((0 until batchSize).map(j => 20 + j * 41 / batchSize)).iterator
      kinds.zipWithIndex.foreach { case (kind, j) =>
        val i = b * batchSize + j
        val len = lens.next()
        docs(i) = kind match {
          case "dup" if clean.nonEmpty => dups += i; docs(clean(r.nextInt(clean.size)))
          case "near" if clean.nonEmpty =>
            near += i
            val toks = docs(clean(r.nextInt(clean.size))).split(' ')
            val p = r.nextInt(toks.length)
            toks(p) = toks(p) + "x"
            toks.mkString(" ")
          case "email" =>
            emails += i
            val toks = fresh(len).split(' ')
            toks(r.nextInt(toks.length)) = s"user${r.nextInt(100000)}@example.com"
            toks.mkString(" ")
          case "low" => low += i; fresh(2 + r.nextInt(3))
          case _ => clean += i; fresh(len)
        }
      }
    }
    Corpus(docs.indices.map(i => (i.toLong, docs(i))), dups.result(), near.result(),
      emails.result(), low.result())
  }

  /** Write rows as one parquet directory per part (`part=<k>`), one job. */
  def writeParts(spark: SparkSession, dir: Path, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema)
      .repartition(col("part")).write.partitionBy("part").parquet(dir.toString)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** 1-5-term queries, Zipf-weighted over the curate vocabulary so head
    * terms (long postings) and tail terms (short postings) both occur.
    */
  def queries(seed: Long, n: Int): Seq[Row] = {
    val r = new SplittableRandom(seed * 137 + 5)
    val z = new Zipf(3000, 0.9)
    (0 until n).map(q => Row(q.toLong, text(r, z, 1, 5)))
  }

  // ------------------------------------------------------------- graded

  /** The sf-shaped tables the graded builders read, at the row counts of
    * the sf0.01 test data and with its schemas and value ranges, each
    * written as one parquet file `<name>.parquet` like the test data.
    */
  val gradedRows: Map[String, Int] =
    Map("documents" -> 500, "embeddings" -> 500, "lineitem" -> 60000)

  def writeGradedTables(spark: SparkSession, dir: Path, seed: Long, tmp: Path): Unit = {
    Files.createDirectories(dir)
    val r = new SplittableRandom(seed * 1009 + 1)
    def single(name: String, rows: Seq[Row], schema: StructType): Unit = {
      val out = tmp.resolve(name)
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"$name.parquet"))
    }
    def shuffled[T](xs: Seq[T]): IndexedSeq[T] =
      xs.map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2).toIndexedSeq
    // documents: 30-word vocabulary; exactly 5 % are near copies of an
    // earlier doc marked " dup", and the fresh docs' lengths (10-99 words)
    // are the same multiset for every seed, so a seed moves content, not cost
    val vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
      "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data",
      "agg", "value", "key", "stream", "window", "a", "spark", "part", "group", "big",
      "sort", "query", "fast", "the")
    val langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.15, "de" -> 0.14, "fr" -> 0.12)
    val nDocs = gradedRows("documents")
    val copies = shuffled(21 until nDocs).take(nDocs / 20).toSet
    val lens = shuffled((0 until nDocs).map(j => 10 + j * 90 / nDocs))
    val texts = Array.ofDim[String](nDocs)
    val docRows = (0 until nDocs).map { i =>
      texts(i) =
        if (copies(i)) texts(r.nextInt(i)) + " dup"
        else Iterator.fill(lens(i))(vocab(r.nextInt(vocab.size))).mkString(" ")
      var u = r.nextDouble()
      val lang = langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse("en")
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    single("documents", docRows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    // embeddings: unit vectors around one centre per label, ten labels of
    // equal size
    val centres = Array.fill(10, 64)(r.nextDouble() * 2 - 1)
    val labels = shuffled((0 until gradedRows("embeddings")).map(_ % 10))
    val embRows = labels.indices.map { i =>
      val label = labels(i)
      val v = centres(label).map(_ * 0.5 + (r.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }
    single("embeddings", embRows, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))))
    // lineitem: TPC-H value ranges, ship dates 1995-01-02 .. 2001-11-04
    val day0 = java.time.LocalDateTime.of(1995, 1, 2, 0, 0)
    def r2(x: Double): Double = math.round(x * 100) / 100.0
    val nLi = gradedRows("lineitem")
    val liRows = (0 until nLi).map { _ =>
      Row(r.nextInt(nLi / 4).toLong, r.nextInt(nLi / 30).toLong, r.nextInt(nLi / 600).toLong,
        1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble, r2(900 + r.nextDouble() * 104100),
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
        Seq("O", "F")(r.nextInt(2)), day0.plusDays(r.nextInt(2498)))
    }
    single("lineitem", liRows, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))))
  }
}
