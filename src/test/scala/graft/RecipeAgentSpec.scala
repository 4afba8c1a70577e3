package graft

import java.nio.file.{Files, Paths}

import graft.agent.{Agent, Retrier}
import graft.plugins._
import graft.recipe._

class RecipeSpec extends SparkSpec {

  test("parse recipe with source, processors, sinks") {
    val r = RecipeReader.parse(
      """name: sample
        |version: v1beta1
        |source:
        |  name: csv
        |  config:
        |    path: /tmp/x.csv
        |processors:
        |  - name: enrich
        |    config: {team: data}
        |sinks:
        |  - name: console
        |""".stripMargin)
    assert(r.name == "sample")
    assert(r.source == PluginSpec("csv", Map("path" -> "/tmp/x.csv")))
    assert(r.processors.head.config("team") == "data")
    assert(r.sinks.map(_.name) == Seq("console"))
  }

  test("version must be v1beta1") {
    val e = intercept[RecipeParseException](RecipeReader.parse(
      "name: x\nversion: v2\nsource: {name: csv}\nsinks: [{name: console}]"))
    assert(e.getMessage.contains("unsupported version"))
  }

  test("at least one sink required") {
    intercept[RecipeParseException](RecipeReader.parse(
      "name: x\nversion: v1beta1\nsource: {name: csv}"))
  }

  test("template vars fill from env prefix and explicit vars win") {
    val env = Map("METEOR_SRC_PATH" -> "/from/env", "OTHER" -> "ignored")
    assert(RecipeReader.render("path: {{ .src_path }}", Map.empty, env) ==
      "path: /from/env")
    assert(RecipeReader.render("path: {{ .src_path }}",
      Map("src_path" -> "/explicit"), env) == "path: /explicit")
  }

  test("new-recipe generation round-trips through the parser (generator/recipe.go)") {
    graft.plugins.Registries.populate()
    val yaml = Main.generateRecipe("bootstrap", "csv",
      sinks = Seq("console", "file"), processors = Seq("enrich"))
    val r = RecipeReader.parse(yaml)
    assert(r.name == "bootstrap")
    assert(r.source.name == "csv")
    assert(r.source.config.contains("path")) // csv sample config carried over
    assert(r.processors.map(_.name) == Seq("enrich"))
    assert(r.sinks.map(_.name) == Seq("console", "file"))
    assert(r.sinks(1).config("format") == "ndjson")
  }

  test("lint errors resolve to YAML line numbers (cmd/lint.go:145-178)") {
    val r = RecipeReader.parse(
      """name: located
        |version: v1beta1
        |source:
        |  name: nosuch
        |processors:
        |  - name: enrich
        |    config: {team: data}
        |sinks:
        |  - name: file
        |    config:
        |      format: xml
        |""".stripMargin)
    // plugin block lines: the plugin's `name` scalar
    assert(RecipeReader.lintLine(r, "source/nosuch") == Some(4))
    assert(RecipeReader.lintLine(r, "processor/enrich") == Some(6))
    assert(RecipeReader.lintLine(r, "sink/file") == Some(9))
    // config-value line beats the plugin line when the key exists
    assert(RecipeReader.lintLine(r, "sink/file/format") == Some(11))
    assert(RecipeReader.lintLine(r, "processor/enrich/team") == Some(7))
    // missing config key falls back to the plugin line; unknown plugin → None
    assert(RecipeReader.lintLine(r, "sink/file/path") == Some(9))
    assert(RecipeReader.lintLine(r, "sink/ghost/x") == None)
  }

  test("recipe name defaults to file name") {
    val dir = Files.createTempDirectory("recipes")
    Files.writeString(dir.resolve("my-recipe.yaml"),
      "version: v1beta1\nsource: {name: csv, config: {path: /tmp}}\nsinks: [{name: console}]")
    Files.writeString(dir.resolve("broken.yaml"), "version: v1beta1\n:::bad")
    val rs = RecipeReader.read(dir) // directory read skips the broken file
    assert(rs.map(_.name) == Seq("my-recipe"))
  }
}

class RetrierSpec extends SparkSpec {
  test("retries retryable errors with backoff, rethrows permanent") {
    var calls = 0
    val out = Retrier.retry(maxRetries = 3, initialIntervalMs = 1L) {
      calls += 1
      if (calls < 3) throw new RetryableException("boom")
      "ok"
    }
    assert(out == "ok" && calls == 3)

    intercept[RuntimeException] {
      Retrier.retry(maxRetries = 3, initialIntervalMs = 1L) {
        throw new RuntimeException("permanent")
      }
    }

    var calls2 = 0
    intercept[RetryableException] {
      Retrier.retry(maxRetries = 2, initialIntervalMs = 1L) {
        calls2 += 1; throw new RetryableException("always")
      }
    }
    assert(calls2 == 3) // initial + 2 retries
  }
}

class AgentSpec extends SparkSpec {

  private def writeCsv(dir: java.nio.file.Path): Unit = {
    Files.writeString(dir.resolve("users.csv"), "id,name\n1,alice\n2,bob\n")
    Files.writeString(dir.resolve("orders.csv"), "oid,amount,ts\n10,5.0,2024\n")
  }

  test("end-to-end recipe: csv -> enrich -> ndjson file (SURVEY §7.2 spine)") {
    val dir = Files.createTempDirectory("csvsrc")
    writeCsv(dir)
    val out = Files.createTempDirectory("sinkout").resolve("assets.ndjson")
    val recipe = RecipeReader.parse(
      s"""name: spine
         |version: v1beta1
         |source:
         |  name: csv
         |  config: {path: $dir}
         |processors:
         |  - name: enrich
         |    config: {fieldA: valueA, team: data-eng}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val result = new Agent(spark).run(recipe)
    assert(result.success, result.error)
    assert(result.recordCount == 2) // one Table asset per csv file
    val lines = scala.jdk.CollectionConverters.CollectionHasAsScala(
      Files.readAllLines(out)).asScala.toSeq
    assert(lines.size == 2)
    assert(lines.head.contains(""""name":"orders.csv""""))
    // attributes is a JSON-string facet, so its keys appear escaped
    assert(lines.head.contains("""\"fieldA\":\"valueA\""""))
    assert(lines.head.contains("""\"team\":\"data-eng\""""))
    // header row became the schema facet
    assert(lines.head.contains(""""name":"oid""""))
    assert(lines(1).contains(""""name":"users.csv""""))
  }

  test("end-to-end curation recipe: documents -> quality -> scrub -> dedup-gate -> file") {
    import spark.implicits._
    // the LLM-pipeline operators on the RECIPE surface: raw document rows
    // in, curated NDJSON out, fingerprints persisted so the NEXT batch
    // gates against this one
    val docsDir = Files.createTempDirectory("curedocs")
    val idx = Files.createTempDirectory("curidx").resolve("fp").toString
    val out = Files.createTempDirectory("cureout").resolve("kept.ndjson")
    val keepText = "the quick brown fox jumps over the lazy dog " +
      "write to bob@example.com for details"
    val otherText = "another perfectly ordinary document with enough " +
      "tokens to pass the quality gate today"
    Seq((1L, keepText), (2L, "short"), (3L, keepText), (4L, otherText))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch1")
    def recipe(batch: String) = RecipeReader.parse(
      s"""name: curation
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/$batch}
         |processors:
         |  - name: quality-filter
         |    config: {min_tokens: 5, max_stopword_ratio: 1.0,
         |             max_punct_ratio: 1.0, min_mean_token_len: 0,
         |             max_mean_token_len: 100}
         |  - name: pii-scrub
         |    config: {text_column: text}
         |  - name: dedup-gate
         |    config: {index_path: $idx}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("batch1"))
    assert(r1.success, r1.error)
    // doc 2 fails quality (1 token), doc 3 is the in-batch duplicate of 1
    assert(r1.recordCount == 2, r1)
    val lines = scala.jdk.CollectionConverters.CollectionHasAsScala(
      Files.readAllLines(out)).asScala.toSeq
    assert(lines.size == 2)
    assert(lines.exists(_.contains("<EMAIL>")))
    assert(!lines.exists(_.contains("bob@example.com")))
    // fingerprints persisted: 2 survivors
    assert(spark.read.parquet(idx).count() == 2)
    // batch 2: doc 5 repeats doc 4's text -> stored gate drops it; 6 is new
    Seq((5L, otherText), (6L, "a genuinely fresh document that nobody has " +
        "ever fingerprinted before in this index"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch2")
    val r2 = new Agent(spark).run(recipe("batch2"))
    assert(r2.success, r2.error)
    assert(r2.recordCount == 1, r2)
    assert(spark.read.parquet(idx).count() == 3)
    // roster: the curation processors are listable like any plugin
    Registries.populate()
    val names = Registries.processors.list.map(_.name).toSet
    assert(Set("enrich", "quality-filter", "pii-scrub", "lang-filter",
      "dedup-gate").subsetOf(names), names)
  }

  test("lang-filter keeps only allowed predicted languages") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox and the lazy dog with some of those words"),
      (2L, "der schnelle braune fuchs und der faule hund mit einigen von diesen"),
      (3L, "zzz qqq xxx www")).toDF("doc_id", "text")
    val kept = graft.processors.CurationProcessors.LangFilter
      .process(df, Map("allowed" -> "en"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), kept)
    // YAML-list spelling of `allowed` behaves identically
    val jl = new java.util.ArrayList[String]()
    jl.add("en"); jl.add("de")
    val kept2 = graft.processors.CurationProcessors.LangFilter
      .process(df, Map("allowed" -> jl))
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(1L, 2L), kept2)
    // the RECIPE READER hands processors SCALA collections — this is the
    // spelling a real parsed `allowed: [en, de]` arrives as (falling
    // through to toString would quietly drop every row)
    val kept3 = graft.processors.CurationProcessors.LangFilter
      .process(df, Map("allowed" -> List("en", "de")))
      .select("doc_id").as[Long].collect().toSet
    assert(kept3 == Set(1L, 2L), kept3)
  }

  test("neardup-gate recipe: stored LSH index catches a cross-batch near-dup") {
    import spark.implicits._
    // a near-duplicate (one word edited mid-document) planted ACROSS
    // batches: batch 1 indexes the original's bands, batch 2's edit must
    // collide on at least one unchanged band and be dropped — the fuzzy
    // gate the exact dedup-gate cannot catch (different fingerprint)
    val docsDir = Files.createTempDirectory("ndocs")
    val idx = Files.createTempDirectory("nidx").resolve("lsh").toString
    val out = Files.createTempDirectory("nout").resolve("kept.ndjson")
    val original = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val nearDup = original.replace("omicron", "edited")
    val fresh = "entirely different content about distributed query " +
      "engines and columnar storage formats with no shared shingles"
    Seq((1L, original)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch1")
    def recipe(batch: String) = RecipeReader.parse(
      s"""name: neardup
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/$batch}
         |processors:
         |  - name: neardup-gate
         |    config: {index_path: $idx}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("batch1"))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 1, r1)
    // the index now holds batch 1's bands (4 bands x 1 doc)
    assert(spark.read.parquet(idx).count() == 4)
    Seq((2L, nearDup), (3L, fresh)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch2")
    val r2 = new Agent(spark).run(recipe("batch2"))
    assert(r2.success, r2.error)
    assert(r2.recordCount == 1, r2) // near-dup dropped, fresh survives
    val lines = scala.jdk.CollectionConverters.CollectionHasAsScala(
      Files.readAllLines(out)).asScala.toSeq
    assert(lines.size == 1 && lines.head.contains("\"doc_id\":3"), lines)
    // survivor's bands appended: 4 more rows
    assert(spark.read.parquet(idx).count() == 8)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("neardup-gate"))
  }

  test("chunk recipe: gated docs explode into embed-ready chunk rows") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("chdocs")
    val out = Files.createTempDirectory("chout").resolve("chunks.ndjson")
    // doc 1: 23 tokens -> 2 chunks at size=16/stride=8; doc 2: 1 token,
    // dropped by the quality gate before chunking ever sees it
    Seq((1L, (1 to 23).map(i => s"tok$i").mkString(" ")), (2L, "short"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/b")
    val recipe = RecipeReader.parse(
      s"""name: chunker
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/b}
         |processors:
         |  - name: quality-filter
         |    config: {min_tokens: 5, max_stopword_ratio: 1.0,
         |             max_punct_ratio: 1.0, min_mean_token_len: 0,
         |             max_mean_token_len: 100}
         |  - name: chunk
         |    config: {size: 16, stride: 8}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val r = new Agent(spark).run(recipe)
    assert(r.success, r.error)
    assert(r.recordCount == 2, r) // two chunk rows, doc 2 gated out
    val lines = scala.jdk.CollectionConverters.CollectionHasAsScala(
      Files.readAllLines(out)).asScala.toSeq
    assert(lines.size == 2)
    assert(lines.exists(_.contains("\"tok_start\":9")), lines)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("chunk"))
  }

  test("bm25-index recipe: builds the stored postings, merges later " +
      "batches, and a query batch scores against it") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docsDir = Files.createTempDirectory("bidocs")
    val idx = Files.createTempDirectory("biidx").resolve("bm25").toString
    val b1 = Seq(
      (1L, "spark engine shuffles columns fast"),
      (2L, "ducks swim across quiet ponds daily")).toDF("doc_id", "text")
    val b2 = Seq(
      (3L, "ponds reflect the morning sky"),
      (4L, "columnar storage scans fewer bytes")).toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(s"$docsDir/batch1")
    b2.write.mode("overwrite").parquet(s"$docsDir/batch2")
    def recipe(batch: String) = RecipeReader.parse(
      s"""name: bm25-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/$batch}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $idx, buckets: 2}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("batch1"))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 2, r1)
    // second batch folds in (postings append + df/stats adds)
    val r2 = new Agent(spark).run(recipe("batch2"))
    assert(r2.success, r2.error)
    // the built store answers queries exactly like an inline build on
    // the full ingested corpus — the displaced-index contract
    val all = b1.unionByName(b2)
    val queries = Seq((100L, "ponds"), (200L, "spark columns")).toDF("q", "qt")
    val stored = Retrieval.bm25TopKStored(
      Retrieval.readBm25Store(spark, idx), queries,
      "doc_id", "q", "qt").collect().map(_.toSeq).toSet
    val inline = Retrieval.bm25TopK(all, queries,
      "doc_id", "text", "q", "qt").collect().map(_.toSeq).toSet
    assert(stored.nonEmpty && stored == inline)
    Registries.populate()
    assert(Registries.sinks.list.map(_.name).contains("bm25-index"))
  }

  test("bm25-search recipe: queries.parquet -> bm25-search -> file matches " +
      "bm25TopKStored row-for-row; ann-search matches the stored probe") {
    import spark.implicits._
    import graft.operators.{Retrieval, Similarity}
    // index built by the INGEST recipe surface, queried by the SEARCH one
    val dir = Files.createTempDirectory("searchsrc")
    val idx = dir.resolve("bm25").toString
    val docs = Seq(
      (1L, "spark engine shuffles columns fast"),
      (2L, "ducks swim across quiet ponds daily"),
      (3L, "ponds reflect the morning sky"),
      (4L, "columnar storage scans fewer bytes")).toDF("doc_id", "text")
    Retrieval.writeBm25Store(docs, "doc_id", "text", idx, buckets = 2)
    val queries = Seq((100L, "ponds"), (200L, "spark columns"))
      .toDF("q_id", "text")
    queries.write.parquet(s"$dir/queries")
    val out = dir.resolve("ranked.ndjson")
    val recipe = RecipeReader.parse(
      s"""name: bm25-serve
         |version: v1beta1
         |source:
         |  name: bm25-search
         |  config:
         |    index_path: $idx
         |    queries_path: $dir/queries
         |    top_k: 3
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val r = new Agent(spark).run(recipe)
    assert(r.success, r.error)
    val direct = Retrieval.bm25TopKStored(
        Retrieval.readBm25Store(spark, idx), queries,
        "doc_id", "q_id", "text", topK = 3)
      .collect().map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
        row.getLong(3))).toSet
    val sunk = scala.io.Source.fromFile(out.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("rnk").toString.toInt,
        m.get("doc_id").toString.toLong, m.get("score").toString.toLong)
    }.toSet
    assert(sunk == direct && sunk.nonEmpty)
    // ann-search over a sink-built two-level store: recipe rows equal the
    // library probe against the reloaded codebook
    val vidx = dir.resolve("ivf").toString
    val vecs = (0 until 60).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5))))
      .toDF("vec_id", "embedding")
    assert(graft.sinks.IvfIndexSink.sink(vecs,
      Map("index_path" -> vidx)) == 60L)
    val qv = vecs.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
    qv.write.parquet(s"$dir/qv")
    val vout = dir.resolve("ann.ndjson")
    val vr = new Agent(spark).run(RecipeReader.parse(
      s"""name: ann-serve
         |version: v1beta1
         |source:
         |  name: ann-search
         |  config:
         |    index_path: $vidx
         |    queries_path: $dir/qv
         |    top_k: 5
         |    exclude_self: true
         |sinks:
         |  - name: file
         |    config: {path: $vout, format: ndjson}
         |""".stripMargin))
    assert(vr.success, vr.error)
    val cb = Similarity.readTwoLevelCodebookAt(spark, vidx)
    val vdirect = Similarity.ivfTopKStoredTwoLevel(
        spark.read.parquet(vidx), qv, "vec_id", "embedding", k = 5, cb,
        excludeSelf = true)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2),
        row.getDouble(3))).toSet
    val vsunk = scala.io.Source.fromFile(vout.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("c_id").toString.toLong,
        m.get("rank").toString.toInt, m.get("sim").toString.toDouble)
    }.toSet
    assert(vsunk == vdirect && vsunk.nonEmpty)
    // a rerank key on a RAW store is rejected loudly (it pairs with PQ
    // codes stores only — silently ignoring it would mask a config slip)
    val rawRerank = intercept[Exception] {
      graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> vidx, "queries_path" -> s"$dir/qv",
        "rerank_store_path" -> s"$dir/nowhere"))
    }
    assert(rawRerank.getMessage.contains("rerank_store_path"))
    // both sources are on the registry roster
    Registries.populate()
    assert(Registries.extractors.list.map(_.name).contains("bm25-search"))
    assert(Registries.extractors.list.map(_.name).contains("ann-search"))
  }

  test("hybrid-search recipe: one query table, stored BM25 + stored IVF " +
      "legs, RRF fusion row-identical to the library composition") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Retrieval, Similarity}
    val dir = Files.createTempDirectory("hybridsrc")
    // one corpus, two persisted modalities over the SAME id space
    val docs = Seq(
      (0L, "spark engine shuffles columns fast"),
      (1L, "ducks swim across quiet ponds daily"),
      (2L, "ponds reflect the morning sky"),
      (3L, "columnar storage scans fewer bytes"),
      (4L, "quiet engine hums in the morning"),
      (5L, "bytes stream from columnar ponds")).toDF("doc_id", "text")
    val bidx = dir.resolve("bm25").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", bidx, buckets = 2)
    val vecs = (0 until 6).map(i => (i.toLong,
        Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * i)))
      .toDF("vec_id", "embedding")
    val vidx = dir.resolve("ivf").toString
    assert(graft.sinks.IvfIndexSink.sink(vecs,
      Map("index_path" -> vidx)) == 6L)
    // each query carries BOTH modalities: its text and its embedding
    val queries = docs.filter(col("doc_id") < 2)
      .withColumnRenamed("doc_id", "q_id")
      .join(vecs.withColumnRenamed("vec_id", "q_id"), Seq("q_id"))
    queries.write.parquet(s"$dir/queries")
    val out = dir.resolve("fused.ndjson")
    val r = new Agent(spark).run(RecipeReader.parse(
      s"""name: hybrid-serve
         |version: v1beta1
         |source:
         |  name: hybrid-search
         |  config:
         |    bm25_index_path: $bidx
         |    ann_index_path: $vidx
         |    queries_path: $dir/queries
         |    top_k: 5
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin))
    assert(r.success, r.error)
    // the library composition the recipe must reproduce bit-for-bit:
    // stored-postings BM25 leg + stored two-level IVF leg (the sink's
    // auto codebook, extractor defaults: no self-exclusion) fused by RRF
    val bmLeg = Retrieval.bm25TopKStored(
        Retrieval.readBm25Store(spark, bidx), queries,
        "doc_id", "q_id", "text")
      .select(col("q_id"), col("rnk"), col("doc_id"))
    val cb = Similarity.readTwoLevelCodebookAt(spark, vidx)
    val dLeg = Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(vidx),
        queries.select(col("q_id").as("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 10, cb, excludeSelf = false)
      .select(col("q_id"), col("rank").as("rnk"), col("c_id").as("doc_id"))
    val expected = Retrieval.rrfFuse(Seq(bmLeg, dLeg), "doc_id", topK = 5)
      .collect().map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
        row.getLong(3))).toSet
    val sunk = scala.io.Source.fromFile(out.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("rnk").toString.toInt,
        m.get("doc_id").toString.toLong, m.get("rrf_micro").toString.toLong)
    }.toSet
    assert(sunk == expected && sunk.nonEmpty)
    // fused rows genuinely mix the two signals: some fused doc must be
    // absent from one leg's top list (rank-only fusion, not a re-sort of
    // either single leg)
    val bmIds = bmLeg.collect().map(r2 => (r2.getLong(0), r2.getLong(2))).toSet
    val dIds = dLeg.collect().map(r2 => (r2.getLong(0), r2.getLong(2))).toSet
    assert((bmIds != dIds) && sunk.map(t => (t._1, t._3))
      .subsetOf(bmIds ++ dIds))
    Registries.populate()
    assert(Registries.extractors.list.map(_.name).contains("hybrid-search"))
    // missing either index path fails lint, not run
    val lint = graft.sources.HybridSearchExtractor.validate(
      Map("queries_path" -> s"$dir/queries"))
    assert(lint.exists(_.key == "bm25_index_path") &&
      lint.exists(_.key == "ann_index_path"))
    // linear (alpha) fusion mode: recipe rows equal the library
    // linearFuse over the score-bearing legs
    val lout = dir.resolve("linear.ndjson")
    val lr = new Agent(spark).run(RecipeReader.parse(
      s"""name: hybrid-linear
         |version: v1beta1
         |source:
         |  name: hybrid-search
         |  config:
         |    bm25_index_path: $bidx
         |    ann_index_path: $vidx
         |    queries_path: $dir/queries
         |    fusion: linear
         |    alpha: 0.7
         |    top_k: 5
         |sinks:
         |  - name: file
         |    config: {path: $lout, format: ndjson}
         |""".stripMargin))
    assert(lr.success, lr.error)
    val lExpected = Retrieval.linearFuse(
        Retrieval.bm25TopKStored(Retrieval.readBm25Store(spark, bidx),
          queries, "doc_id", "q_id", "text")
          .select(col("q_id"), col("doc_id"), col("score")),
        Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(vidx),
          queries.select(col("q_id").as("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 10, cb, excludeSelf = false)
          .select(col("q_id"), col("c_id").as("doc_id"),
            col("sim").as("score")),
        "doc_id", alpha = 0.7, topK = 5)
      .collect().map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
        row.getLong(3))).toSet
    val lSunk = scala.io.Source.fromFile(lout.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("rnk").toString.toInt,
        m.get("doc_id").toString.toLong, m.get("fused_micro").toString.toLong)
    }.toSet
    assert(lSunk == lExpected && lSunk.nonEmpty)
    // cross-mode knobs are config slips, refused at lint
    val crossed = graft.sources.HybridSearchExtractor.validate(Map(
      "bm25_index_path" -> bidx, "ann_index_path" -> vidx,
      "queries_path" -> s"$dir/queries", "alpha" -> "0.5"))
    assert(crossed.exists(_.key == "alpha"))
    val crossed2 = graft.sources.HybridSearchExtractor.validate(Map(
      "bm25_index_path" -> bidx, "ann_index_path" -> vidx,
      "queries_path" -> s"$dir/queries", "fusion" -> "linear",
      "rrf_k0" -> "60"))
    assert(crossed2.exists(_.key == "rrf_k0"))
    // out-of-range alpha fails at lint with the key named, not mid-run
    val badAlpha = graft.sources.HybridSearchExtractor.validate(Map(
      "bm25_index_path" -> bidx, "ann_index_path" -> vidx,
      "queries_path" -> s"$dir/queries", "fusion" -> "linear",
      "alpha" -> "1.5"))
    assert(badAlpha.exists(e => e.key == "alpha" &&
      e.message.contains("[0, 1]")))
    // leg-level lint rules reach hybrid recipes too: bm25-search's
    // prf-on-fielded refusal fires from the hybrid validate
    val legRule = graft.sources.HybridSearchExtractor.validate(Map(
      "bm25_index_path" -> bidx, "ann_index_path" -> vidx,
      "queries_path" -> s"$dir/queries", "prf" -> "true",
      "fielded" -> "true"))
    assert(legRule.exists(_.key == "prf"))
  }

  test("hybrid INGEST is one corpus pass: a dual-sink recipe builds " +
      "bm25-index + ivf-index from one cached read, and hybrid-search " +
      "serves the pair") {
    // the ingest half of the hybrid story needs no new plugin (and the
    // serving recipe spells NO id columns — the ann leg derives doc_id
    // from the store's own _graft_ids record) — the
    // agent's fan-out broadcast caches ONE read of the two-modality
    // corpus and each index sink selects its own columns; the serving
    // recipe then fuses the two stores it just built
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{Retrieval, Similarity}
    val dir = Files.createTempDirectory("hybridingest")
    val corpus = Seq(
      (0L, "spark engine shuffles columns fast",
        Seq(10.0, 0.0, 0.0, 0.1)),
      (1L, "ducks swim across quiet ponds daily",
        Seq(0.0, 10.0, 0.0, 0.2)),
      (2L, "ponds reflect the morning sky", Seq(0.0, 9.5, 0.5, 0.3)),
      (3L, "columnar storage scans fewer bytes",
        Seq(9.0, 0.0, 1.0, 0.4)),
      (4L, "quiet engine hums in the morning", Seq(5.0, 5.0, 0.0, 0.5)),
      (5L, "bytes stream from columnar ponds", Seq(0.5, 0.5, 9.0, 0.6)))
      .toDF("doc_id", "text", "embedding")
    corpus.write.parquet(s"$dir/corpus")
    val bidx = dir.resolve("bm25").toString
    val vidx = dir.resolve("ivf").toString
    val r = new Agent(spark).run(RecipeReader.parse(
      s"""name: hybrid-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/corpus}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $bidx}
         |  - name: ivf-index
         |    config:
         |      index_path: $vidx
         |      id_column: doc_id
         |""".stripMargin))
    assert(r.success, r.error)
    // both stores committed from the one run
    assert(Retrieval.readBm25Store(spark, bidx).stats.count() > 0)
    val cb = Similarity.readTwoLevelCodebookAt(spark, vidx)
    assert(cb.tops.nonEmpty)
    // and the serving recipe fuses the freshly-built pair
    val queries = corpus.filter(col("doc_id") < 2)
      .withColumnRenamed("doc_id", "q_id")
    queries.write.parquet(s"$dir/queries")
    val out = dir.resolve("fused.ndjson")
    val sr = new Agent(spark).run(RecipeReader.parse(
      s"""name: hybrid-serve-after-ingest
         |version: v1beta1
         |source:
         |  name: hybrid-search
         |  config:
         |    bm25_index_path: $bidx
         |    ann_index_path: $vidx
         |    queries_path: $dir/queries
         |    top_k: 5
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin))
    assert(sr.success, sr.error)
    val bmLeg = Retrieval.bm25TopKStored(
        Retrieval.readBm25Store(spark, bidx), queries,
        "doc_id", "q_id", "text")
      .select(col("q_id"), col("rnk"), col("doc_id"))
    val dLeg = Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(vidx),
        queries.select(col("q_id").as("doc_id"), col("embedding")),
        "doc_id", "embedding", k = 10, cb, excludeSelf = false)
      .select(col("q_id"), col("rank").as("rnk"), col("c_id").as("doc_id"))
    val expected = Retrieval.rrfFuse(Seq(bmLeg, dLeg), "doc_id", topK = 5)
      .collect().map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
        row.getLong(3))).toSet
    val sunk = scala.io.Source.fromFile(out.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("rnk").toString.toInt,
        m.get("doc_id").toString.toLong, m.get("rrf_micro").toString.toLong)
    }.toSet
    assert(sunk == expected && sunk.nonEmpty)
  }

  test("nb-index + nb-filter recipes: train, filter by the trained model, " +
      "extend, and unlearn — the classifier lifecycle on the YAML surface") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Classify
    val dir = Files.createTempDirectory("nbrecipe")
    val mdl = dir.resolve("nb").toString
    val train = Seq(
      (0L, "apple banana apple cherry", "fruit"),
      (1L, "banana banana apple", "fruit"),
      (2L, "bolt nut bolt washer", "tool"),
      (3L, "nut washer bolt", "tool")).toDF("doc_id", "text", "lang")
    train.write.parquet(s"$dir/train")
    // TRAIN via the sink recipe
    val rt = new Agent(spark).run(RecipeReader.parse(
      s"""name: nb-train
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/train}
         |sinks:
         |  - name: nb-index
         |    config: {index_path: $mdl}
         |""".stripMargin))
    assert(rt.success, rt.error)
    // the recipe-trained model equals the library train (whatever
    // batching the agent applied — merges are exact)
    locally {
      val (m0, b0) = Classify.readNbStore(spark, mdl)
      def rws(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rws(m0) == rws(Classify.nbModel(train, "text", "lang")),
        s"recipe-trained model drifted: ${rws(m0)}")
      assert(rws(b0) ==
        rws(Classify.nbClassBase(train, "doc_id", "text", "lang")))
    }
    // FILTER by the trained model: only fruit-vocabulary rows survive
    val batch = Seq(
      (10L, "cherry apple basket"), (11L, "bolt bolt wrench"),
      (12L, "banana apple")).toDF("doc_id", "text")
    batch.write.parquet(s"$dir/batch")
    // library-level first (isolates the processor from recipe plumbing)
    val direct = graft.processors.CurationProcessors.NbFilter.process(batch,
        Map("index_path" -> mdl, "allowed" -> "fruit",
          "label_as" -> "pred_lang"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(direct == Set((10L, "fruit"), (12L, "fruit")), s"direct=$direct")
    // label_as onto an EXISTING input column would leave the frame with
    // two columns of that name (withColumnRenamed renames, it does not
    // replace) — refused loudly instead of emitting ambiguous output
    val collide = intercept[IllegalArgumentException] {
      graft.processors.CurationProcessors.NbFilter.process(batch,
        Map("index_path" -> mdl, "allowed" -> "fruit",
          "label_as" -> "text"))
    }
    assert(collide.getMessage.contains("collides"), collide.getMessage)
    val out = dir.resolve("kept.ndjson")
    val rf = new Agent(spark).run(RecipeReader.parse(
      s"""name: nb-filter-run
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/batch}
         |processors:
         |  - name: nb-filter
         |    config:
         |      index_path: $mdl
         |      allowed: [fruit]
         |      label_as: pred_lang
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin))
    assert(rf.success, rf.error)
    assert(rf.recordCount == 2, s"recipe filter kept ${rf.recordCount}: $rf")
    val kept = scala.io.Source.fromFile(out.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("doc_id").toString.toLong, m.get("pred_lang").toString)
    }.toSet
    assert(kept == Set((10L, "fruit"), (12L, "fruit")), kept)
    // EXTEND: a later labeled batch merges — merged ≡ retrain on the union
    val more = Seq((4L, "cherry cherry banana", "fruit"),
      (5L, "washer washer nut", "tool")).toDF("doc_id", "text", "lang")
    assert(graft.sinks.NbIndexSink.sink(more,
      Map("index_path" -> mdl)) == 2L)
    val (m1, b1) = Classify.readNbStore(spark, mdl)
    val union = train.unionByName(more)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(m1) == rows(Classify.nbModel(union, "text", "lang")))
    assert(rows(b1) ==
      rows(Classify.nbClassBase(union, "doc_id", "text", "lang")))
    // UNLEARN via the sink's forget mode (rows carry content)
    assert(graft.sinks.NbIndexSink.sink(
      union.filter(col("doc_id") === 4L),
      Map("index_path" -> mdl, "mode" -> "forget")) == 1L)
    val (m2, _) = Classify.readNbStore(spark, mdl)
    assert(rows(m2) == rows(Classify.nbModel(
      union.filter(col("doc_id") =!= 4L), "text", "lang")))
    // a missing model is a LOUD error for the filter, never a pass-through
    val miss = intercept[IllegalArgumentException] {
      graft.processors.CurationProcessors.NbFilter.process(batch,
        Map("index_path" -> s"$dir/nomodel", "allowed" -> "fruit"))
    }
    assert(miss.getMessage.contains("trained"), miss.getMessage)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("nb-filter"))
    assert(Registries.sinks.list.map(_.name).contains("nb-index"))
  }

  test("winnow-gate + winnow-index recipes: the plagiarism gate gates, " +
      "merges survivors in batch-split-invariantly, and forgets on the " +
      "YAML surface") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("winnowrecipe")
    val idx = dir.resolve("winnow").toString
    val copied = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b1 = Seq(
      (1L, s"one two three $copied four five six"),
      (2L, "fresh historical words entirely novel over here okay then right"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (10L, s"intro words then $copied and an outro here"), // plagiarizes 1
      (11L, "totally novel content with new words only in this doc okay then"))
      .toDF("doc_id", "text")
    b1.write.parquet(s"$dir/b1"); b2.write.parquet(s"$dir/b2")
    def recipe(batch: String, out: String) = RecipeReader.parse(
      s"""name: winnow-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/$batch}
         |processors:
         |  - name: winnow-gate
         |    config: {index_path: $idx}
         |sinks:
         |  - name: file
         |    config: {path: $dir/$out, format: ndjson}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("b1", "out1.ndjson"))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 2, r1) // empty store: both pass and index
    val r2 = new Agent(spark).run(recipe("b2", "out2.ndjson"))
    assert(r2.success, r2.error)
    assert(r2.recordCount == 1, r2) // the plagiarist is gated out
    val out2 = scala.io.Source.fromFile(s"$dir/out2.ndjson").getLines()
      .map(l => new org.yaml.snakeyaml.Yaml()
        .load[java.util.Map[String, Object]](l).get("doc_id").toString.toLong)
      .toSet
    assert(out2 == Set(11L))
    // merged store ≡ rebuild on everything it ingested (1, 2, 11)
    val rb = dir.resolve("winnow_rb").toString
    Dedup.writeWinnowStoreAt(spark, rb,
      b1.unionByName(b2.filter(col("doc_id") === 11L)), "doc_id", "text")
    def rows(p: String, t: String) =
      spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSet
    assert(rows(idx, "fps") == rows(rb, "fps"))
    assert(rows(idx, "docs") == rows(rb, "docs"))
    // GDPR on the same surface: tombstone doc 1 through the sink, then
    // the previously-gated plagiarist passes a re-run
    Seq(1L).toDF("doc_id").write.parquet(s"$dir/tomb")
    val rf = new Agent(spark).run(RecipeReader.parse(
      s"""name: winnow-forget
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/tomb}
         |sinks:
         |  - name: winnow-index
         |    config: {index_path: $idx, mode: forget}
         |""".stripMargin))
    assert(rf.success, rf.error)
    assert(Dedup.winnowIngest(b2.filter(col("doc_id") === 10L),
      Dedup.readWinnowStoreFps(spark, idx), "doc_id", "text")
      .count() == 1)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("winnow-gate"))
    assert(Registries.sinks.list.map(_.name).contains("winnow-index"))
  }

  test("ann-search serves a quantize: pq store end to end — recipe rows " +
      "equal ivfPqTopKStoredTwoLevel, and forget erases both layouts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    // the round-13 gap: the sink could BUILD the billion-vector layout
    // but only Scala could query it. The composition under test: ingest
    // recipe writes codes + rerank vectors, query recipe ranks off both.
    val dir = Files.createTempDirectory("annpq")
    val idx = dir.resolve("pq").toString
    val rrk = dir.resolve("pqvec").toString
    val vecs = (0 until 60).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5))))
      .toDF("vec_id", "embedding")
    val cfg = Map("index_path" -> idx, "quantize" -> "pq",
      "rerank_store_path" -> rrk, "pq_m" -> 4, "pq_k" -> 8)
    assert(graft.sinks.IvfIndexSink.validate(cfg).isEmpty)
    assert(graft.sinks.IvfIndexSink.sink(vecs, cfg) == 60L)
    val qv = vecs.filter(col("vec_id") >= 57L)
    qv.write.parquet(s"$dir/qv")
    val out = dir.resolve("annpq.ndjson")
    val r = new Agent(spark).run(RecipeReader.parse(
      s"""name: ann-pq-serve
         |version: v1beta1
         |source:
         |  name: ann-search
         |  config:
         |    index_path: $idx
         |    queries_path: $dir/qv
         |    rerank_store_path: $rrk
         |    top_k: 5
         |    shortlist: 20
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin))
    assert(r.success, r.error)
    val (cb, codebooks) = Similarity.readPq2CodebooksAt(spark, idx)
    // exclude_self defaults OFF on the recipe surface (external queries
    // are usually not store members) — these queries ARE members, so the
    // self hit must come back at rank 1 and the direct call matches with
    // the same knob
    val direct = Similarity.ivfPqTopKStoredTwoLevel(
        spark.read.parquet(idx), qv, "vec_id", "embedding", k = 5, cb,
        codebooks, vectorStore = Similarity.readVectorStore(spark, rrk),
        nprobeTop = 2, nprobe = 3, shortlist = 20, excludeSelf = false)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2),
        row.getDouble(3))).toSet
    // the self hit is retrievable (ids 12/27/42 carry bit-identical
    // vectors, so rank-1 may be a lower-id exact tie — rank is not pinned)
    assert(direct.exists(r => r._1 == 57L && r._2 == 57L),
      "a member query must see its own stored copy")
    val sunk = scala.io.Source.fromFile(out.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      (m.get("q_id").toString.toLong, m.get("c_id").toString.toLong,
        m.get("rank").toString.toInt, m.get("sim").toString.toDouble)
    }.toSet
    assert(sunk == direct && sunk.nonEmpty)
    // the store RECORDS its sidecar linkage, so a query that omits the
    // key serves identically — the key defaults from the store itself
    assert(Similarity.rerankLinkAt(spark, idx) == Some(Some(rrk)))
    val defaulted = graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> idx, "queries_path" -> s"$dir/qv",
        "top_k" -> 5, "shortlist" -> 20))
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2),
        row.getDouble(3))).toSet
    assert(defaulted == direct,
      "linkage-defaulted query must equal the explicit-key query")
    // a key CONTRADICTING the record refuses (divergent pairing would
    // re-rank the wrong vectors)
    val diverge = intercept[IllegalArgumentException] {
      graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> idx, "queries_path" -> s"$dir/qv",
        "rerank_store_path" -> dir.resolve("elsewhere").toString))
    }
    assert(diverge.getMessage.contains("records its exact-vector"),
      diverge.getMessage)
    // mode: forget WITHOUT the key erases BOTH layouts — the recorded
    // linkage drives the cascade, closing the "forget recipe omits the
    // key, raw vectors stay fetchable" erasure hole
    val tomb = Seq(58L).toDF("vec_id")
    assert(graft.sinks.IvfIndexSink.sink(tomb, Map("index_path" -> idx,
      "mode" -> "forget")) == 1L)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 58L).count() == 0)
    assert(spark.read.parquet(rrk).filter(col("vec_id") === 58L).count() == 0)
    val served = graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> idx, "queries_path" -> s"$dir/qv",
        "rerank_store_path" -> rrk, "top_k" -> 5, "shortlist" -> 20))
      .collect().map(_.toSeq)
    assert(served.nonEmpty &&
      !served.exists(row => row(1) == 58L),
      "erased id must not be servable from the recipe surface")
    // a forget naming a DIFFERENT sidecar than the record refuses, and
    // the codes store is untouched (all-or-nothing)
    val n59 = spark.read.parquet(idx).filter(col("vec_id") === 59L).count()
    val fDiverge = intercept[IllegalArgumentException] {
      graft.sinks.IvfIndexSink.sink(Seq(59L).toDF("vec_id"),
        Map("index_path" -> idx, "mode" -> "forget",
          "rerank_store_path" -> dir.resolve("elsewhere").toString))
    }
    assert(fDiverge.getMessage.contains("records its exact-vector"),
      fDiverge.getMessage)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 59L).count()
      == n59, "refused forget must not touch the codes")
    // a mid-stream rerank store refuses: append a batch pointing the key
    // somewhere else — the record wins, never a silent partial store
    val late = intercept[IllegalArgumentException] {
      graft.sinks.IvfIndexSink.sink(
        Seq((100L, Seq.tabulate(8)(_ * 0.1))).toDF("vec_id", "embedding"),
        Map("index_path" -> idx, "quantize" -> "pq",
          "rerank_store_path" -> dir.resolve("late").toString,
          "pq_m" -> 4, "pq_k" -> 8))
    }
    assert(late.getMessage.contains("records its exact-vector"),
      late.getMessage)
    // an append that OMITS the key on a linked store still appends the
    // vectors to the recorded sidecar — history never diverges from it
    assert(graft.sinks.IvfIndexSink.sink(
      Seq((101L, Seq.tabulate(8)(d => 0.2 * d))).toDF("vec_id", "embedding"),
      Map("index_path" -> idx, "quantize" -> "pq",
        "pq_m" -> 4, "pq_k" -> 8)) == 1L)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 101L).count() == 1)
    assert(spark.read.parquet(rrk).filter(col("vec_id") === 101L).count() == 1)
    // a linked-but-UNREACHABLE sidecar stops erasure before the codes
    // mutate: "codes erased, raw vectors kept" must never read as success
    val fs2 = new org.apache.hadoop.fs.Path(rrk)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs2.rename(new org.apache.hadoop.fs.Path(rrk),
      new org.apache.hadoop.fs.Path(s"$rrk.hidden"))
    val gone = intercept[IllegalArgumentException] {
      graft.sinks.IvfIndexSink.sink(Seq(59L).toDF("vec_id"),
        Map("index_path" -> idx, "mode" -> "forget"))
    }
    assert(gone.getMessage.contains("not a readable vector store"),
      gone.getMessage)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 59L).count()
      == n59, "refused cascade must not touch the codes")
    fs2.rename(new org.apache.hadoop.fs.Path(s"$rrk.hidden"),
      new org.apache.hadoop.fs.Path(rrk))
  }

  test("filtered ANN on the YAML surface: ivf-index meta_columns + " +
      "ann-search filter pre-filter candidates, appends adopt the " +
      "store's own meta set, and codes stores refuse a filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("annfilter")
    val idx = dir.resolve("ivfmeta").toString
    def vecs(from: Int, until: Int) =
      (from until until).map(i => (i.toLong,
        Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5)),
        (i % 4).toLong)).toDF("vec_id", "embedding", "label")
    // BUILD with meta_columns (two-level auto codebook)
    val bCfg = Map("index_path" -> idx, "meta_columns" -> Seq("label"))
    assert(graft.sinks.IvfIndexSink.validate(bCfg).isEmpty)
    assert(graft.sinks.IvfIndexSink.sink(vecs(0, 40), bCfg) == 40L)
    // APPEND adopts the store's own meta set — no meta_columns key
    assert(graft.sinks.IvfIndexSink.sink(vecs(40, 60),
      Map("index_path" -> idx)) == 20L)
    assert(spark.read.parquet(idx).filter(col("vec_id") >= 40L)
      .filter(col("label").isNull).count() == 0,
      "appended rows must carry the store's meta columns")
    // a CONTRADICTING meta set refuses (ragged appends break filtering)
    val ragged = intercept[IllegalArgumentException] {
      graft.sinks.IvfIndexSink.sink(
        (100 until 102).map(i => (i.toLong,
          Seq.tabulate(8)(_ * 0.1), "en")).toDF("vec_id", "embedding", "lang"),
        Map("index_path" -> idx, "meta_columns" -> Seq("lang")))
    }
    assert(ragged.getMessage.contains("metadata columns"), ragged.getMessage)
    // SERVE with a filter: pre-filter ≡ the library call over the
    // filtered store frame with the persisted codebook
    val qv = vecs(0, 3)
    qv.write.parquet(s"$dir/qv")
    val served = graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> idx, "queries_path" -> s"$dir/qv",
        "filter" -> "label <= 1", "top_k" -> 5))
      .collect().map(_.toSeq).toSet
    val direct = Similarity.ivfTopKStoredTwoLevel(
        spark.read.parquet(idx).filter(expr("label <= 1")),
        qv, "vec_id", "embedding", k = 5,
        Similarity.readTwoLevelCodebookAt(spark, idx),
        nprobeTop = 2, nprobe = 3, excludeSelf = false)
      .collect().map(_.toSeq).toSet
    assert(served.nonEmpty && served == direct)
    // every served candidate satisfies the predicate (pre-filter, not
    // post-filter: k slots fill from VALID rows)
    val validIds = spark.read.parquet(idx).filter(expr("label <= 1"))
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(served.forall(row => validIds(row(1).asInstanceOf[Long])))
    // the same pair END TO END through YAML (the recipe reader hands
    // plugins SCALA collections for sequences and quoted strings for
    // predicates — both parsing paths pinned here)
    val idx2 = dir.resolve("ivfmeta_yaml").toString
    vecs(0, 40).write.parquet(s"$dir/corpus")
    val rb = new Agent(spark).run(RecipeReader.parse(
      s"""name: ann-meta-build
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $dir/corpus}
         |sinks:
         |  - name: ivf-index
         |    config:
         |      index_path: $idx2
         |      meta_columns: [label]
         |""".stripMargin))
    assert(rb.success, rb.error)
    val out2 = dir.resolve("filtered.ndjson")
    val rq = new Agent(spark).run(RecipeReader.parse(
      s"""name: ann-meta-serve
         |version: v1beta1
         |source:
         |  name: ann-search
         |  config:
         |    index_path: $idx2
         |    queries_path: $dir/qv
         |    filter: "label <= 1"
         |    top_k: 5
         |sinks:
         |  - name: file
         |    config: {path: $out2, format: ndjson}
         |""".stripMargin))
    assert(rq.success, rq.error)
    val sunk2 = scala.io.Source.fromFile(out2.toFile).getLines().map { l =>
      val m = new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](l)
      m.get("c_id").toString.toLong
    }.toSet
    assert(sunk2.nonEmpty && sunk2.subsetOf(validIds),
      s"YAML-served candidates must satisfy the predicate: $sunk2")
    // erasure composes on a meta store (compaction carries all columns)
    assert(graft.sinks.IvfIndexSink.sink(Seq(41L).toDF("vec_id"),
      Map("index_path" -> idx, "mode" -> "forget")) == 1L)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 41L).count() == 0)
    assert(spark.read.parquet(idx).filter(col("label").isNull).count() == 0)
    // meta_columns on a codes store is a lint error; filter on a codes
    // store refuses at query time
    assert(graft.sinks.IvfIndexSink.validate(Map("index_path" -> idx,
      "quantize" -> "pq", "meta_columns" -> Seq("label")))
      .exists(_.key == "meta_columns"))
    val pqIdx = dir.resolve("pq").toString
    assert(graft.sinks.IvfIndexSink.sink(
      vecs(0, 40).select(col("vec_id"), col("embedding")),
      Map("index_path" -> pqIdx, "quantize" -> "pq",
        "rerank_store_path" -> dir.resolve("pqv").toString,
        "pq_m" -> 4, "pq_k" -> 8)) == 40L)
    val pqFilter = intercept[Exception] {
      graft.sources.AnnSearchExtractor.extract(spark, Map(
        "index_path" -> pqIdx, "queries_path" -> s"$dir/qv",
        "filter" -> "label <= 1"))
    }
    assert(pqFilter.getMessage.contains("filterable"), pqFilter.getMessage)
    // the rectangularity invariant holds at the SHARED append tail, not
    // just the sink: a library/streaming append that omits the store's
    // meta columns refuses rather than writing rows whose meta reads as
    // NULL (invisible to every later filtered search)
    val raggedLib = intercept[IllegalArgumentException] {
      Similarity.appendIvfStoreTwoLevel(
        vecs(200, 202).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding",
        Similarity.readTwoLevelCodebookAt(spark, idx), idx)
    }
    assert(raggedLib.getMessage.contains("ragged appends"),
      raggedLib.getMessage)
    // ...and the same append WITH the store's meta set lands cleanly
    Similarity.appendIvfStoreTwoLevel(vecs(200, 202), "vec_id",
      "embedding", Similarity.readTwoLevelCodebookAt(spark, idx), idx,
      metaCols = Seq("label"))
    assert(spark.read.parquet(idx).filter(col("vec_id") === 200L)
      .filter(col("label").isNull).count() == 0)
  }

  test("mode: forget on the index sinks erases tombstoned rows through the " +
      "recipe surface, equal to a rebuild on the survivors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Retrieval
    val dir = Files.createTempDirectory("forgetrecipe")
    val idx = dir.resolve("bm25").toString
    val docs = Seq(
      (1L, "spark engine shuffles columns fast"),
      (2L, "ducks swim across quiet ponds daily"),
      (3L, "ponds reflect the morning sky"),
      (4L, "columnar storage scans fewer bytes")).toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    Seq(2L, 3L).toDF("doc_id").write.parquet(s"$dir/tomb")
    def run(src: String, mode: String) = new Agent(spark).run(
      RecipeReader.parse(
        s"""name: bm25-$mode
           |version: v1beta1
           |source:
           |  name: documents
           |  config: {path: $dir/$src}
           |sinks:
           |  - name: bm25-index
           |    config: {index_path: $idx, buckets: 2, mode: $mode}
           |""".stripMargin))
    assert(run("docs", "ingest").success)
    val rf = run("tomb", "forget")
    assert(rf.success, rf.error)
    assert(rf.recordCount == 2, rf)
    val rbPath = dir.resolve("rb").toString
    Retrieval.writeBm25Store(docs.filter(!col("doc_id").isin(2L, 3L)),
      "doc_id", "text", rbPath, buckets = 2)
    def rows(p: String) = {
      val st = Retrieval.readBm25Store(spark, p)
      (st.postings.collect().map(_.toSeq).toSet,
        st.dfreq.collect().map(_.toSeq).toSet,
        st.stats.collect().map(_.toSeq).toSet)
    }
    assert(rows(idx) == rows(rbPath))
    // vector-store forget through the same surface
    val vidx = dir.resolve("ivf").toString
    val vecs = (0 until 40).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5))))
      .toDF("vec_id", "embedding")
    assert(graft.sinks.IvfIndexSink.sink(vecs,
      Map("index_path" -> vidx)) == 40L)
    assert(graft.sinks.IvfIndexSink.sink(
      vecs.filter(col("vec_id") % 4 === 1).select(col("vec_id")),
      Map("index_path" -> vidx, "mode" -> "forget")) == 10L)
    assert(spark.read.parquet(vidx)
      .filter(col("vec_id") % 4 === 1).count() == 0)
    assert(spark.read.parquet(vidx).count() == 30)
    // tombstones never land as vectors: mode is validated
    assert(graft.sinks.IvfIndexSink.validate(
      Map("index_path" -> vidx, "mode" -> "purge")).nonEmpty)
    // layout is sniffed from the STORE: a forget recipe that never
    // mentions `fielded` still erases a fielded store correctly
    val fidx = dir.resolve("bm25f").toString
    assert(graft.sinks.Bm25IndexSink.sink(docs, Map("index_path" -> fidx,
      "buckets" -> 2, "fielded" -> true)) == 4L)
    assert(graft.sinks.Bm25IndexSink.sink(
      Seq(2L, 3L).toDF("doc_id"),
      Map("index_path" -> fidx, "mode" -> "forget")) == 2L)
    val fRb = dir.resolve("bm25f_rb").toString
    Retrieval.writeBm25fStore(docs.filter(!col("doc_id").isin(2L, 3L)),
      "doc_id", "text", fRb, buckets = 2)
    def frows(p: String) = {
      val st = Retrieval.readBm25fStore(spark, p)
      (st.postings.collect().map(_.toSeq).toSet,
        st.stats.collect().map(_.toSeq).toSet)
    }
    assert(frows(fidx) == frows(fRb))
  }

  test("fielded bm25-index recipe: builds then merges a BM25F store that " +
      "scores like an inline fielded build") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docsDir = Files.createTempDirectory("fbidocs")
    val idx = Files.createTempDirectory("fbiidx").resolve("bm25f").toString
    val b1 = Seq(
      (1L, "spark engine alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta spark engine"))
      .toDF("doc_id", "text")
    val b2 = Seq(
      (3L, "spark spark unrelated words beyond the title window here x"))
      .toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(s"$docsDir/batch1")
    b2.write.mode("overwrite").parquet(s"$docsDir/batch2")
    def recipe(batch: String) = RecipeReader.parse(
      s"""name: bm25f-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/$batch}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $idx, buckets: 2, fielded: true,
         |             title_tokens: 8}
         |""".stripMargin)
    assert(new Agent(spark).run(recipe("batch1")).success)
    assert(new Agent(spark).run(recipe("batch2")).success)
    val all = b1.unionByName(b2)
    val qs = Seq((100L, "spark engine"), (200L, "theta")).toDF("q", "qt")
    val stored = Retrieval.bm25fTopKStored(
      Retrieval.readBm25fStore(spark, idx), qs,
      "doc_id", "q", "qt").collect().map(_.toSeq).toSet
    val inline = Retrieval.bm25fTopK(all, qs, "doc_id", "text",
      "q", "qt").collect().map(_.toSeq).toSet
    assert(stored.nonEmpty && stored == inline)
  }

  test("chunk -> bm25-index recipe: stored chunk postings match an inline " +
      "build over the packed chunk corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, shiftleft, shiftright}
    import graft.operators.{Retrieval, TextAnalysis}
    val docsDir = Files.createTempDirectory("cbidocs")
    val idx = Files.createTempDirectory("cbiidx").resolve("bm25c").toString
    val docs = Seq(
      (1L, (1 to 23).map(i => s"tok$i").mkString(" ")),
      (2L, "ducks swim across quiet ponds daily and return at dusk")
    ).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$docsDir/b")
    val recipe = RecipeReader.parse(
      s"""name: chunk-index
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/b}
         |processors:
         |  - name: chunk
         |    config: {size: 16, stride: 8}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $idx, buckets: 2,
         |             text_column: chunk_text, chunk_id_column: chunk_id}
         |""".stripMargin)
    val r = new Agent(spark).run(recipe)
    assert(r.success, r.error)
    assert(r.recordCount == 3, r) // 2 chunks (doc 1) + 1 (doc 2)
    // the stored index speaks the engine's packed-cid space: scoring it
    // equals an inline BM25 over the shifted chunk corpus
    val chunks = TextAnalysis.slidingChunks(docs, "doc_id", "text", 16, 8)
      .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("cid"),
        col("chunk_text"))
    val queries = Seq((100L, "ponds tok9")).toDF("q", "qt")
    val stored = Retrieval.bm25TopKStored(
      Retrieval.readBm25Store(spark, idx), queries,
      "cid", "q", "qt").collect().map(_.toSeq).toSet
    val inline = Retrieval.bm25TopK(chunks, queries,
      "cid", "chunk_text", "q", "qt").collect().map(_.toSeq).toSet
    assert(stored.nonEmpty && stored == inline)
    // parents recoverable from the indexed keys (the mining contract)
    val parents = Retrieval.readBm25Store(spark, idx).postings
      .select(shiftright(col("cid"), 20)).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(parents == Set(1L, 2L), parents.toString)
  }

  test("ivf-index recipe: builds the vector store with a persisted " +
      "codebook, appends later batches against it, grows in place") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val vecsDir = Files.createTempDirectory("ividocs")
    val idx = Files.createTempDirectory("iviidx").resolve("ivf").toString
    def vec(i: Int): Seq[Double] = {
      val base = i % 3
      Seq.tabulate(8)(d =>
        (if (d == base) 10.0 else 0.0) + 0.01 * ((i * 7 + d) % 5))
    }
    val b1 = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val b2 = (60 until 90).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    b1.write.mode("overwrite").parquet(s"$vecsDir/batch1")
    b2.write.mode("overwrite").parquet(s"$vecsDir/batch2")
    def recipe(batch: String, extra: String = "") = RecipeReader.parse(
      s"""name: ivf-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $vecsDir/$batch}
         |sinks:
         |  - name: ivf-index
         |    config: {index_path: $idx$extra}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("batch1"))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 60, r1)
    // the codebook persisted INSIDE the store is the frozen one: batch 2
    // appends against the reloaded centroids, never re-deriving
    val cb = Similarity.readTwoLevelCodebookAt(spark, idx)
    val r2 = new Agent(spark).run(recipe("batch2"))
    assert(r2.success, r2.error)
    assert(Similarity.readTwoLevelCodebookAt(spark, idx).gids == cb.gids,
      "a plain append must not touch the persisted codebook")
    // build(b1) + append(b2) equals a from-scratch layout of b1 ∪ b2
    // under the SAME frozen codebook — assignment depends only on the
    // codebook, so micro-batching cannot change the stored rows
    val rbPath = Files.createTempDirectory("ivirb").toString
    Similarity.writeIvfStoreTwoLevel(b1.unionByName(b2),
      "vec_id", "embedding", cb, rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("centroid_id")).collect()
      .map(_.toSeq).toSet
    assert(rows(idx) == rows(rbPath))
    // a grow run splits any child the share audit flags, rewrites only
    // affected tops, and persists the grown codebook back — queries with
    // the RELOADED codebook keep answering over the regrown directories
    val b3 = (90 until 120).map(i => (i.toLong, vec(3 * i)))
      .toDF("vec_id", "embedding") // all one direction: concentrates a child
    b3.write.mode("overwrite").parquet(s"$vecsDir/batch3")
    val r3 = new Agent(spark).run(recipe("batch3", ", grow: true"))
    assert(r3.success, r3.error)
    val grown = Similarity.readTwoLevelCodebookAt(spark, idx)
    assert(grown.size >= cb.size, s"${grown.size} vs ${cb.size}")
    val out = Similarity.ivfTopKStoredTwoLevel(spark.read.parquet(idx),
      b1.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3,
      grown, nprobeTop = 2, nprobe = 3)
    assert(out.count() == 9)
    Registries.populate()
    assert(Registries.sinks.list.map(_.name).contains("ivf-index"))
  }

  test("semdedup-gate recipe: embedding near-dups of the stored index are " +
      "dropped, novel vectors survive and append, in-batch dups all pass") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val vecsDir = Files.createTempDirectory("sdgdocs")
    val idx = Files.createTempDirectory("sdgidx").resolve("ivf").toString
    def vec(i: Int): Seq[Double] = {
      val base = i % 3
      Seq.tabulate(8)(d =>
        (if (d == base) 10.0 else 0.0) + 0.01 * ((i * 7 + d) % 5))
    }
    val novel = Seq.tabulate(8)(d => if (d == 5) 10.0 else 0.3 * d)
    val b1 = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    // batch 2: three EXACT copies of stored vectors (cosine 1 ≥ 0.99 →
    // gated), one novel direction, and an IN-BATCH duplicate of it —
    // batch-split invariance says both novel rows survive (decisions
    // depend only on the static index, never on batch peers)
    val b2 = Seq(
      (100L, vec(0)), (101L, vec(1)), (102L, vec(2)),
      (103L, novel), (104L, novel)).toDF("vec_id", "embedding")
    b1.write.mode("overwrite").parquet(s"$vecsDir/batch1")
    b2.write.mode("overwrite").parquet(s"$vecsDir/batch2")
    def recipe(batch: String, gated: Boolean) = RecipeReader.parse(
      s"""name: semdedup-ingest
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $vecsDir/$batch}
         |${if (gated)
           s"""processors:
           |  - name: semdedup-gate
           |    config: {index_path: $idx, threshold: 0.99}""".stripMargin
         else ""}
         |sinks:
         |  - name: ivf-index
         |    config: {index_path: $idx}
         |""".stripMargin)
    // batch 1 through the SAME gated recipe: no index yet → everything
    // passes (the missing-index contract) and the sink builds the store
    val r1 = new Agent(spark).run(recipe("batch1", gated = true))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 60, r1)
    val r2 = new Agent(spark).run(recipe("batch2", gated = true))
    assert(r2.success, r2.error)
    assert(r2.recordCount == 2, r2) // 103 + 104 survive; 100-102 gated
    val stored = spark.read.parquet(idx).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!stored.exists(Set(100L, 101L, 102L)), stored.toString)
    assert(Set(103L, 104L).subsetOf(stored), stored.toString)
    assert(stored.size == 62)
    // a re-delivery of the surviving novel vector now gates against the
    // appended rows — the cross-batch steady state
    val b3 = Seq((200L, novel)).toDF("vec_id", "embedding")
    b3.write.mode("overwrite").parquet(s"$vecsDir/batch3")
    val r3 = new Agent(spark).run(recipe("batch3", gated = true))
    assert(r3.success, r3.error)
    assert(r3.recordCount == 0, r3)
    assert(!spark.read.parquet(idx).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet.contains(200L))
    // a SAME-ID re-delivery (row 103 verbatim) is gated too: the probe
    // runs with self-exclusion OFF, so the row's own stored copy is a
    // candidate at cosine 1 — without that knob the id-equality filter
    // inside the ANN query would hide exactly this duplicate
    val b4 = Seq((103L, novel)).toDF("vec_id", "embedding")
    b4.write.mode("overwrite").parquet(s"$vecsDir/batch4")
    val r4 = new Agent(spark).run(recipe("batch4", gated = true))
    assert(r4.success, r4.error)
    assert(r4.recordCount == 0, r4)
    assert(spark.read.parquet(idx).filter(col("vec_id") === 103L).count() == 1,
      "a gated same-id re-delivery must not double-append")
    // an empty batch is a no-op for gate and sink alike
    val b5 = b4.filter(col("vec_id") < 0)
    b5.write.mode("overwrite").parquet(s"$vecsDir/batch5")
    val r5 = new Agent(spark).run(recipe("batch5", gated = true))
    assert(r5.success, r5.error)
    assert(r5.recordCount == 0, r5)
    assert(spark.read.parquet(idx).count() == 62)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("semdedup-gate"))
  }

  test("normalize recipe: NFC-composes text so a decomposed near-dup is gated") {
    import spark.implicits._
    // the same logical document planted across batches in DIFFERENT
    // Unicode spellings: batch 1 composed (NFC), batch 2 the decomposed
    // (NFD) near-dup with one word edited. Shingle hashes see raw bytes,
    // so without `normalize` the NFD spelling shares NO band with the
    // indexed original and walks through the gate; with `normalize`
    // first, both batches collapse to one spelling and the banding
    // catches it.
    val composed = "café crème déjà vu résumé naïve fiancée touché " +
      "cliché soufflé entrée purée sauté canapé protégé décor attaché " +
      "château matinée consommé"
    val decomposedDup = java.text.Normalizer.normalize(
      composed.replace("matinée", "edited"), java.text.Normalizer.Form.NFD)
    val fresh = "entirely different content about distributed query " +
      "engines and columnar storage formats with no shared shingles"
    // negative control: WITHOUT normalize the decomposed near-dup passes
    locally {
      val idx0 = Files.createTempDirectory("nfcidx0").resolve("lsh").toString
      val g = graft.processors.CurationProcessors.NearDupGate
      g.process(Seq((1L, composed)).toDF("doc_id", "text"),
        Map("index_path" -> idx0)).count()
      val kept = g.process(Seq((2L, decomposedDup)).toDF("doc_id", "text"),
        Map("index_path" -> idx0, "update_index" -> false))
      assert(kept.count() == 1, "NFD near-dup should slip an un-normalized gate")
    }
    // the recipe chain with normalize first gates it
    val docsDir = Files.createTempDirectory("nfcdocs")
    val idx = Files.createTempDirectory("nfcidx").resolve("lsh").toString
    val out = Files.createTempDirectory("nfcout").resolve("kept.ndjson")
    Seq((1L, composed)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch1")
    def recipe(batch: String) = RecipeReader.parse(
      s"""name: nfc-neardup
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $docsDir/$batch}
         |processors:
         |  - name: normalize
         |  - name: neardup-gate
         |    config: {index_path: $idx}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |""".stripMargin)
    val r1 = new Agent(spark).run(recipe("batch1"))
    assert(r1.success, r1.error)
    assert(r1.recordCount == 1, r1)
    Seq((2L, decomposedDup), (3L, fresh)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$docsDir/batch2")
    val r2 = new Agent(spark).run(recipe("batch2"))
    assert(r2.success, r2.error)
    assert(r2.recordCount == 1, r2) // decomposed near-dup dropped
    val lines = scala.jdk.CollectionConverters.CollectionHasAsScala(
      Files.readAllLines(out)).asScala.toSeq
    assert(lines.size == 1 && lines.head.contains("\"doc_id\":3"), lines)
    Registries.populate()
    assert(Registries.processors.list.map(_.name).contains("normalize"))
  }

  test("curation index probe resolves through the Hadoop FileSystem API") {
    import spark.implicits._
    // an explicit file: URI — the java.io.File probe this replaced would
    // treat "file:/..." as a relative path and always miss
    val dir = Files.createTempDirectory("fsprobe")
    val uri = "file:" + dir.resolve("fp").toString
    assert(!graft.operators.Layout.indexExists(spark, uri))
    Seq("k1", "k2").toDF("fp").write.parquet(uri)
    assert(graft.operators.Layout.indexExists(spark, uri))
    // and the gate itself accepts the URI spelling end to end
    val batch = Seq((1L, "text one"), (2L, "text two")).toDF("doc_id", "text")
    val kept = graft.processors.CurationProcessors.DedupGate
      .process(batch, Map("index_path" -> uri, "update_index" -> false))
    assert(kept.count() == 2)
  }

  test("multi-sink fan-out from one cached pass; sink error isolated") {
    val dir = Files.createTempDirectory("csvsrc2")
    writeCsv(dir)
    val out = Files.createTempDirectory("sinkout2").resolve("a.ndjson")
    val recipe = RecipeReader.parse(
      s"""name: fanout
         |version: v1beta1
         |source: {name: csv, config: {path: $dir}}
         |sinks:
         |  - name: file
         |    config: {path: $out, format: ndjson}
         |  - name: file
         |    config: {path: /dev/null/sub/b.ndjson, format: ndjson}
         |""".stripMargin)
    val result = new Agent(spark, maxRetries = 0).run(recipe)
    assert(result.success) // default stop_on_sink_error=false swallows
    assert(result.sinkCounts("file[0]") == 2L)
    assert(result.sinkCounts("file[1]") == -1L)
  }

  /** What the `cacheprobe` sink saw on each call: whether the frame it was
    * handed is cached, and its rows. */
  private val probed = new java.util.concurrent.ConcurrentLinkedQueue[
    (Boolean, Set[Seq[Any]])]()

  /** `cacheprobe` (sink) records into [[probed]]; `ckpt-derive`
    * (processor) checkpoints its input and derives one more column from
    * it, `tick` (a nondeterministic UDF whose every call gives a new
    * value) or `plus` (deterministic); `none` derives nothing. Registered
    * once per JVM. */
  private def registerProbes(): Unit = {
    Registries.populate()
    try Registries.sinks.register(new SinkPlugin {
      val info = PluginInfo("cacheprobe", "records what it was handed")
      def sink(df: org.apache.spark.sql.DataFrame,
               config: Map[String, Any]): Long = {
        val rows = df.collect().map(_.toSeq).toSet
        probed.add((df.storageLevel !=
          org.apache.spark.storage.StorageLevel.NONE, rows))
        rows.size.toLong
      }
    }) catch { case _: IllegalArgumentException => () }
    try Registries.processors.register(new Processor {
      val info = PluginInfo("ckpt-derive", "checkpoint, then derive a column")
      def process(df: org.apache.spark.sql.DataFrame,
                  config: Map[String, Any]): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.functions._
        val ckpt = df.localCheckpoint()
        config("derive").toString match {
          case "tick" => ckpt.withColumn("v",
            udf(() => AgentSpec.ticks.incrementAndGet()).asNondeterministic()())
          case "plus" => ckpt.withColumn("v", col("doc_id") + 1)
          case _ => ckpt.select(ckpt.columns.reverse.map(col): _*)
        }
      }
    }) catch { case _: IllegalArgumentException => () }
  }

  test("fan-out caches the processed frame only when it is not already a " +
      "checkpoint, so every sink sees the same values") {
    import spark.implicits._
    registerProbes()
    val src = Files.createTempDirectory("cacheprobe_src")
    Seq((1L, "one two three"), (2L, "four five six"), (3L, "one two three"))
      .toDF("doc_id", "text").write.parquet(s"$src/docs")
    val documents = s"{name: documents, config: {path: $src/docs}}"
    def run(source: String,
            processors: String): Seq[(Boolean, Set[Seq[Any]])] = {
      probed.clear()
      val r = new Agent(spark, stopOnSinkError = true, maxRetries = 0).run(
        RecipeReader.parse(
          s"""name: cacheprobe
             |version: v1beta1
             |source: $source
             |processors: [$processors]
             |sinks: [{name: cacheprobe}, {name: cacheprobe}]
             |""".stripMargin))
      assert(r.success, r.error)
      import scala.jdk.CollectionConverters._
      probed.asScala.toSeq
    }
    // a frame ending in a checkpoint under a column selection: the
    // dedup-gate's survivors, and a checkpoint with its columns reordered
    for (ps <- Seq(
        s"{name: dedup-gate, config: {index_path: ${src.resolve("fp")}}}",
        "{name: ckpt-derive, config: {derive: none}}")) {
      val seen = run(documents, ps)
      assert(seen.map(_._1) == Seq(false, false), ps)
      assert(seen.map(_._2).distinct.size == 1, ps)
    }
    // a source frame is cached: each sink would otherwise re-read it
    val csv = Files.createTempDirectory("cacheprobe_csv")
    writeCsv(csv)
    assert(run(s"{name: csv, config: {path: $csv}}", "").map(_._1) ==
      Seq(true, true))
    assert(run(documents, "").map(_._1) == Seq(true, true))
    // a derived column over a checkpoint is computed again by every read
    // of an uncached frame: such a frame is cached, deterministic or not
    for (d <- Seq("plus", "tick")) {
      val seen = run(documents, s"{name: ckpt-derive, config: {derive: $d}}")
      assert(seen.map(_._1) == Seq(true, true), d)
      assert(seen.map(_._2).distinct.size == 1, s"$d: ${seen.map(_._2)}")
    }
  }

  test("the curate recipe's second ingest runs a pinned number of Spark " +
      "jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("curatejobs")
    def text(i: Int) = {
      val r = new scala.util.Random(i)
      Seq.fill(12 + i % 9)(s"w${r.nextInt(2000)}").mkString(" ")
    }
    // the second batch also carries an exact copy of a first-batch doc,
    // a short doc and an email: each gate has work to do
    def batch(ids: Range, extra: (Long, String)*) =
      (ids.map(i => (i.toLong, text(i))) ++ extra).toDF("doc_id", "text")
    batch(0 until 40).write.parquet(s"$root/part=0")
    batch(1000 until 1040, 2000L -> text(3), 2001L -> "too short",
      2002L -> s"${text(2002)} mail bob@example.com")
      .write.parquet(s"$root/part=1")
    def recipe(k: Int) = RecipeReader.parse(
      s"""name: curate
         |version: v1beta1
         |source: {name: documents, config: {path: $root/part=$k}}
         |processors:
         |  - name: quality-filter
         |    config: {min_tokens: 8, max_stopword_ratio: 1.0,
         |             max_punct_ratio: 1.0, min_mean_token_len: 0,
         |             max_mean_token_len: 100}
         |  - name: pii-scrub
         |    config: {text_column: text}
         |  - name: dedup-gate
         |    config: {index_path: $root/fp}
         |  - name: neardup-gate
         |    config: {index_path: $root/lsh}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: $root/bm25, buckets: 8}
         |  - name: file
         |    config: {path: $root/out_$k.ndjson, format: ndjson}
         |""".stripMargin)
    val agent = new Agent(spark, stopOnSinkError = true, maxRetries = 0)
    assert(agent.run(recipe(0)).success)
    val ((r, jobs), chmods) = Chmods.during(
      SparkJobs.inGroup(spark.sparkContext, "graft-run-curate")(
        agent.run(recipe(1))))
    assert(r.success, r.error)
    assert(r.recordCount == 41L, r)
    assert(r.sinkCounts.values.forall(_ == r.recordCount), r.sinkCounts)
    assert(jobs.size <= 21, s"the second ingest ran ${jobs.size} jobs")
    // store writes create their files without forking chmod
    assert(chmods.isEmpty,
      s"the second ingest forked chmod ${chmods.size} times: " +
        chmods.take(3).mkString("; "))
  }

  test("cancel interrupts a running recipe (agent/agent.go:160-179 analogue)") {
    // slow extractor: each partition sleeps, so the persisted count() hangs
    // long enough to cancel; registered once per JVM
    try Registries.extractors.register(new graft.plugins.Extractor {
      val info = graft.plugins.PluginInfo("slowtest", "sleepy fixture source")
      def extract(s: org.apache.spark.sql.SparkSession,
                  config: Map[String, Any]): org.apache.spark.sql.DataFrame = {
        import s.implicits._
        s.range(8).as[Long].mapPartitions { it =>
          Thread.sleep(60000); it
        }.toDF("id")
      }
    }) catch { case _: IllegalArgumentException => () }
    val recipe = RecipeReader.parse(
      """name: cancelme
        |version: v1beta1
        |source: {name: slowtest}
        |sinks: [{name: console}]
        |""".stripMargin)
    val agent = new Agent(spark, maxRetries = 0)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val running = Future(agent.run(recipe))
    // poll-cancel until the run aborts (cancelJobGroup only hits jobs that
    // have already started)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!running.isCompleted && System.nanoTime() < deadline) {
      agent.cancel("cancelme")
      Thread.sleep(200)
    }
    val result = Await.result(running, 10.seconds)
    assert(!result.success)
    assert(result.error.nonEmpty)
  }

  test("validate reports unknown plugins and bad config without executing") {
    val recipe = RecipeReader.parse(
      """name: lint
        |version: v1beta1
        |source: {name: nosuch}
        |sinks:
        |  - name: file
        |    config: {format: xml}
        |""".stripMargin)
    val errs = new Agent(spark).validate(recipe)
    assert(errs.exists(_.key == "source/nosuch"))
    assert(errs.exists(e => e.key.contains("sink/file") && e.message.contains("unsupported format")))
    assert(errs.exists(e => e.key.contains("sink/file/path")))
  }

  test("parquet extractor profiles columns and previews rows") {
    val recipe = RecipeReader.parse(
      s"""name: pq
         |version: v1beta1
         |source:
         |  name: parquet
         |  config:
         |    path: /root/testdata/sf0.001/nation.parquet
         |    include_column_profile: true
         |    max_preview_rows: 5
         |sinks: [{name: console}]
         |""".stripMargin)
    val agent = new Agent(spark)
    val extracted = graft.plugins.Registries.extractors.get("parquet")
      .extract(spark, recipe.source.config)
    val asset = extracted.collect()(0)
    val res = asset.getAs[org.apache.spark.sql.Row]("resource")
    assert(res.getAs[String]("urn") == "parquet::local/default/nation")
    val profile = asset.getAs[org.apache.spark.sql.Row]("profile")
    assert(profile.getAs[Long]("totalRows") == 25L)
    val schema = asset.getSeq[org.apache.spark.sql.Row](asset.fieldIndex("schema"))
    assert(schema.map(_.getAs[String]("name")).toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    val prev = asset.getAs[org.apache.spark.sql.Row]("preview")
    assert(prev.getAs[String]("rows").contains("ALGERIA") ||
      prev.getAs[String]("rows").length > 2)
  }
}

object AgentSpec {
  /** The `tick` UDF's counter: every evaluation takes the next value. */
  val ticks = new java.util.concurrent.atomic.AtomicLong()
}

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private def attrsOf(df: org.apache.spark.sql.DataFrame): String =
    df.collect()(0).getAs[org.apache.spark.sql.Row]("properties")
      .getAs[String]("attributes")

  test("enrich preserves NESTED attribute values verbatim (e.g. grants rollup)") {
    val asset = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "u", name = "n", service = "s"),
      properties = graft.model.Properties(attributes =
        """{"grants":[{"user":"analyst","privilege_types":["SELECT"]}],"n":5,"ok":true}"""))
    val df = Seq(asset).toDS().toDF()
    val out = attrsOf(graft.processors.EnrichProcessor.process(df, Map("team" -> "data")))
    // nested array/object, number and boolean survive untouched; the new
    // key lands at the end
    assert(out ==
      """{"grants":[{"user":"analyst","privilege_types":["SELECT"]}],"n":5,"ok":true,"team":"data"}""")
  }

  test("enrich sets with overwrite: re-enriched key has ONE entry, config wins") {
    val asset = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "u", name = "n", service = "s"),
      properties = graft.model.Properties(
        attributes = """{"team":"old","keep":"x"}"""))
    val df = Seq(asset).toDS().toDF()
    // overwritten keys keep their original position (in-place map set,
    // like the reference's customProps[key] = value)
    val once = graft.processors.EnrichProcessor.process(df, Map("team" -> "new"))
    assert(attrsOf(once) == """{"team":"new","keep":"x"}""")
    // enriching the SAME key twice still yields exactly one entry
    val twice = graft.processors.EnrichProcessor.process(once, Map("team" -> "newer"))
    assert(attrsOf(twice) == """{"team":"newer","keep":"x"}""")
  }

  test("enrich handles empty/null/non-canonical attributes") {
    val base = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "u", name = "n", service = "s"))
    val df = Seq(base).toDS().toDF()
    assert(attrsOf(graft.processors.EnrichProcessor.process(df, Map("a" -> "1")))
      == """{"a":"1"}""")
    // whitespace-y empty object must not produce malformed JSON
    val odd = Seq(base.copy(properties = graft.model.Properties(attributes = "{ }")))
      .toDS().toDF()
    assert(attrsOf(graft.processors.EnrichProcessor.process(odd, Map("a" -> "1")))
      == """{"a":"1"}""")
  }
}

class MetricsSpec extends SparkSpec {
  test("agent emits statsd run/runDuration/runRecordCount/runPlugin lines") {
    val dir = Files.createTempDirectory("csvm")
    Files.writeString(dir.resolve("users.csv"), "id,name\n1,alice\n")
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val monitor = new graft.agent.StatsdMonitor(
      new graft.agent.LineStatsdClient(lines += _), prefix = "meteor")
    val recipe = RecipeReader.parse(
      s"""name: metered
         |version: v1beta1
         |source: {name: csv, config: {path: $dir}}
         |sinks: [{name: console}]
         |""".stripMargin)
    val result = new Agent(spark, monitor = monitor).run(recipe)
    assert(result.success)
    // metric-name grammar mirrors metrics/statsd.go:37-81
    assert(lines.exists(_.matches(
      """meteor\.runDuration,name=metered,success=true,extractor=csv:\d+\|ms""")))
    assert(lines.contains("meteor.run,name=metered,success=true,extractor=csv:1|c"))
    assert(lines.contains("meteor.runRecordCount,name=metered,success=true,extractor=csv:1|c"))
    assert(lines.contains("meteor.runPlugin,recipe_name=metered,name=console,type=sink,success=true:1|c"))
  }

  test("failed run emits success=false series") {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val monitor = new graft.agent.StatsdMonitor(
      new graft.agent.LineStatsdClient(lines += _))
    val recipe = RecipeReader.parse(
      """name: broken
        |version: v1beta1
        |source: {name: csv, config: {path: /nonexistent-dir-xyz}}
        |sinks: [{name: console}]
        |""".stripMargin)
    val result = new Agent(spark, monitor = monitor).run(recipe)
    assert(!result.success)
    assert(lines.contains("meteor.run,name=broken,success=false,extractor=csv:1|c"))
  }
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("bm25-index refuses merges onto a stale-pending or layout-mismatched " +
      "store instead of corrupting it") {
    import graft.sinks.Bm25IndexSink
    val idx = Files.createTempDirectory("biprot").resolve("bm25").toString
    val b1 = Seq((1L, "spark shuffles columns")).toDF("doc_id", "text")
    val b2 = Seq((2L, "ducks swim in ponds")).toDF("doc_id", "text")
    assert(Bm25IndexSink.sink(b1, Map("index_path" -> idx, "buckets" -> 2)) == 1L)
    // a batch configured under a DIFFERENT layout must be rejected, not
    // merged (fielded components under plain postings = silent garbage)
    intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(b2,
        Map("index_path" -> idx, "buckets" -> 2, "fielded" -> true))
    }
    // a stale pending marker (a prior merge died between its writes)
    // must refuse the merge loudly — retrying would double-append
    val marker = new org.apache.hadoop.fs.Path(idx, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, true).close()
    intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(b2, Map("index_path" -> idx, "buckets" -> 2))
    }
    // cleared marker → the same merge goes through and clears itself
    fs.delete(marker, false)
    assert(Bm25IndexSink.sink(b2, Map("index_path" -> idx, "buckets" -> 2)) == 1L)
    assert(!fs.exists(marker), "a completed merge must remove its marker")
    assert(graft.operators.Retrieval.readBm25Store(spark, idx)
      .postings.select("doc_id").distinct().count() == 2)
  }

  test("a merge that CRASHES between postings-append and stats-write " +
      "leaves a marked store every later ingest refuses — even though " +
      "the crash destroyed the commit signal the dispatch keys on") {
    import graft.sinks.Bm25IndexSink
    val idx = Files.createTempDirectory("bicrash").resolve("bm25").toString
    val fsPath = new org.apache.hadoop.fs.Path(idx)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Bm25IndexSink.sink(Seq((1L, "spark shuffles columns"))
      .toDF("doc_id", "text"), Map("index_path" -> idx, "buckets" -> 2))
    // simulate the worst-window crash: the merge appended its postings,
    // acquired the marker, then died INSIDE the stats replacement —
    // stats (the commit signal) is gone, marker still present
    fs.create(new org.apache.hadoop.fs.Path(idx, "_graft_merge_pending"),
      false).close()
    fs.delete(new org.apache.hadoop.fs.Path(idx, "stats"), true)
    // without the pre-dispatch refusal this run would see exists=false,
    // take the BUILD branch, and static-overwrite away doc 1's history
    val e = intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(Seq((2L, "ducks swim")).toDF("doc_id", "text"),
        Map("index_path" -> idx, "buckets" -> 2))
    }
    assert(e.getMessage.contains("UNFINISHED"))
    // the history is still on disk for the instructed rebuild
    assert(spark.read.parquet(s"$idx/postings")
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .count() > 0)
    // the FIELDED path refuses the same way
    val fidx = Files.createTempDirectory("bicrashf").resolve("bm25f").toString
    Bm25IndexSink.sink(Seq((1L, "spark shuffles columns"))
      .toDF("doc_id", "text"),
      Map("index_path" -> fidx, "buckets" -> 2, "fielded" -> true))
    val ffs = new org.apache.hadoop.fs.Path(fidx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ffs.create(new org.apache.hadoop.fs.Path(fidx, "_graft_merge_pending"),
      false).close()
    ffs.delete(new org.apache.hadoop.fs.Path(fidx, "stats"), true)
    intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(Seq((2L, "ducks swim")).toDF("doc_id", "text"),
        Map("index_path" -> fidx, "buckets" -> 2, "fielded" -> true))
    }
  }

  test("ivf-index refuses any ingest onto a marked store before dispatch") {
    import graft.sinks.IvfIndexSink
    val idx = Files.createTempDirectory("ivfcrash").resolve("ivf").toString
    val b1 = (0 until 20).map(i => (i.toLong,
      Seq.tabulate(4)(d => if (d == i % 2) 1.0 else 0.1)))
      .toDF("vec_id", "embedding")
    assert(IvfIndexSink.sink(b1, Map("index_path" -> idx)) == 20L)
    val marker = new org.apache.hadoop.fs.Path(idx, "_graft_merge_pending")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(marker, false).close()
    // a crashed grow round may have destroyed _graft_codebook — even the
    // would-be build branch must refuse while the marker stands
    fs.delete(new org.apache.hadoop.fs.Path(idx, "_graft_codebook"), true)
    intercept[IllegalArgumentException] {
      IvfIndexSink.sink(b1, Map("index_path" -> idx))
    }
    // grow on the flat layout is rejected at validation time
    assert(IvfIndexSink.validate(Map("index_path" -> idx,
      "two_level" -> false, "grow" -> true)).nonEmpty)
  }

  test("ivf-index quantize: pq builds a two-level codes store, appends " +
      "against the persisted geometry pair, and stays queryable + erasable") {
    import graft.sinks.IvfIndexSink
    import graft.operators.Similarity
    val idx = Files.createTempDirectory("ivfpq2").resolve("pq2").toString
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(16)(d => (if (d == i % 4) 10.0 else 0.0) + 0.01 * (i % 7))
    val b1 = (0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val b2 = (60 until 90).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    assert(IvfIndexSink.sink(b1, Map("index_path" -> idx,
      "quantize" -> "pq", "pq_m" -> 4, "pq_k" -> 8)) == 60L)
    // append reloads the frozen pair; build+append == write-all under it
    assert(IvfIndexSink.sink(b2, Map("index_path" -> idx,
      "quantize" -> "pq", "pq_m" -> 4, "pq_k" -> 8)) == 30L)
    val (cb, codebooks) = Similarity.readPq2CodebooksAt(spark, idx)
    val rbPath = Files.createTempDirectory("ivfpq2_rb").toString
    Similarity.writePqStoreTwoLevel(b1.unionByName(b2), "vec_id",
      "embedding", cb, codebooks, rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("pq_codes"),
        org.apache.spark.sql.functions.col("centroid_id").cast("int"))
      .collect().map(_.toSeq).toSet
    assert(rows(idx) == rows(rbPath))
    // erasure composes on the codes store through the sidecar
    assert(IvfIndexSink.sink(
      b1.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
        .select(org.apache.spark.sql.functions.col("vec_id")),
      Map("index_path" -> idx, "mode" -> "forget")) == 10L)
    assert(spark.read.parquet(idx).count() == 80)
    // conflicting knobs fail at validation
    assert(IvfIndexSink.validate(Map("index_path" -> idx,
      "quantize" -> "pq", "grow" -> true)).nonEmpty)
    assert(IvfIndexSink.validate(Map("index_path" -> idx,
      "quantize" -> "pq", "two_level" -> false)).nonEmpty)
    // a raw-vector batch against the CODES store refuses loudly instead
    // of static-overwriting the history (disjoint commit signals)
    intercept[IllegalArgumentException] {
      IvfIndexSink.sink(b2, Map("index_path" -> idx))
    }
    // and the reverse: quantize: pq against a raw store refuses too
    val rawIdx = Files.createTempDirectory("ivfraw").resolve("raw").toString
    assert(IvfIndexSink.sink(b1, Map("index_path" -> rawIdx)) == 60L)
    intercept[IllegalArgumentException] {
      IvfIndexSink.sink(b2, Map("index_path" -> rawIdx,
        "quantize" -> "pq", "pq_m" -> 4, "pq_k" -> 8))
    }
  }

  test("ivf-index flat path builds and appends against the persisted " +
      "codebook; a two_level run against a flat store fails loudly") {
    import graft.sinks.IvfIndexSink
    import graft.operators.Similarity
    val idx = Files.createTempDirectory("iviflat").resolve("ivf").toString
    def vec(i: Int): Seq[Double] =
      Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5))
    val b1 = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val b2 = (40 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    assert(IvfIndexSink.sink(b1,
      Map("index_path" -> idx, "two_level" -> false)) == 40L)
    val coarse = Similarity.readCoarseCodebookAt(spark, idx)
    assert(IvfIndexSink.sink(b2,
      Map("index_path" -> idx, "two_level" -> false)) == 20L)
    // append parity under the reloaded FLAT codebook
    val rbPath = Files.createTempDirectory("iviflat_rb").toString
    Similarity.writeIvfStore(b1.unionByName(b2), "vec_id", "embedding",
      coarse, rbPath)
    def rows(p: String) = spark.read.parquet(p)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("centroid_id"))
      .collect().map(_.toSeq).toSet
    assert(rows(idx) == rows(rbPath))
    // a two_level-configured run (the default) against the flat store
    // must fail the kind check, never probe/assign silently
    intercept[IllegalArgumentException] {
      IvfIndexSink.sink(b2, Map("index_path" -> idx))
    }
  }

  private case class FakePoster(failFirst: Int) extends graft.sinks.HttpPoster {
    var calls = 0
    val bodies = scala.collection.mutable.ArrayBuffer[String]()
    def post(url: String, method: String, headers: Map[String, String], body: String): Int = {
      calls += 1
      if (calls <= failFirst) 503 else { bodies += body; 200 }
    }
  }

  test("http sink posts each record; 5xx is retryable") {
    val df = Seq(("u1", 1), ("u2", 2)).toDF("urn", "v")
    val poster = FakePoster(failFirst = 1)
    val sink = new graft.sinks.HttpSink(poster)
    val n = Retrier.retry(maxRetries = 2, initialIntervalMs = 1L) {
      sink.sink(df, Map("url" -> "http://x/api"))
    }
    assert(n == 2L)
    assert(poster.bodies.exists(_.contains("u1")))
  }

  test("http sink: success_code is checked before the 5xx retry class (http.go:110-128)") {
    val df = Seq(("u1", 1)).toDF("urn", "v")
    // a 5xx success_code counts as success, not a retryable failure
    val p503 = new graft.sinks.HttpPoster {
      def post(url: String, method: String, headers: Map[String, String], body: String): Int = 503
    }
    assert(new graft.sinks.HttpSink(p503).sink(df,
      Map("url" -> "http://x", "success_code" -> 503)) == 1L)
    // non-5xx mismatch is a PERMANENT error (no RetryableException)
    val p404 = new graft.sinks.HttpPoster {
      def post(url: String, method: String, headers: Map[String, String], body: String): Int = 404
    }
    val e = intercept[RuntimeException] {
      new graft.sinks.HttpSink(p404).sink(df, Map("url" -> "http://x"))
    }
    assert(!e.isInstanceOf[graft.plugins.RetryableException])
  }

  test("http sink posts ONE object per request at every batch_size (http.go:74-88)") {
    // the reference loops the batch and POSTs each record individually —
    // batch_size never changes the wire shape, only failure granularity
    val df = (1 to 5).map(i => (s"u$i", i)).toDF("urn", "v")
    for (bs <- Seq(0, 1, 2)) {
      val p = FakePoster(failFirst = 0)
      val n = new graft.sinks.HttpSink(p).sink(df,
        Map("url" -> "http://x/api", "batch_size" -> bs))
      assert(n == 5L && p.calls == 5, s"batch_size=$bs")
      assert(p.bodies.forall(b => b.startsWith("{") && b.endsWith("}")), s"batch_size=$bs")
      assert(p.bodies.exists(_.contains("u1")) && p.bodies.exists(_.contains("u5")))
    }
    // negative batch_size rejected at validation
    assert(new graft.sinks.HttpSink(FakePoster(0)).validate(
      Map("url" -> "u", "batch_size" -> -1)).nonEmpty)
  }

  test("kafka payload extracts dotted key_path") {
    val df = Seq((("urn:t1", "t1"), 5)).toDF("resource", "v")
      .select(org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.col("resource._1").as("urn"),
        org.apache.spark.sql.functions.col("resource._2").as("name")).as("resource"),
        org.apache.spark.sql.functions.col("v"))
    val out = graft.sinks.KafkaSink.payload(df, Some("resource.urn")).collect()(0)
    assert(out.getAs[String]("key") == "urn:t1")
    assert(out.getAs[String]("value").contains(""""v":5"""))
  }

  test("kafka protobuf payload matches the generated descriptors (kafka/sink.go:110-116)") {
    // minimal wire decoder: top-level (fieldNumber, payload) list
    def decode(bytes: Array[Byte]): Seq[(Int, Either[Long, Array[Byte]])] = {
      var i = 0
      def varint(): Long = {
        var v = 0L; var shift = 0
        while ({ val b = bytes(i); i += 1; v |= (b & 0x7FL) << shift; shift += 7; (b & 0x80) != 0 }) ()
        v
      }
      val out = scala.collection.mutable.ArrayBuffer[(Int, Either[Long, Array[Byte]])]()
      while (i < bytes.length) {
        val tag = varint(); val field = (tag >> 3).toInt
        (tag & 7) match {
          case 0 => out += field -> Left(varint())
          case 1 => out += field -> Left(0L); i += 8
          case 2 =>
            val len = varint().toInt
            out += field -> Right(bytes.slice(i, i + len)); i += len
          case w => fail(s"unexpected wire type $w")
        }
      }
      out.toSeq
    }
    def sub(fields: Seq[(Int, Either[Long, Array[Byte]])], n: Int): Array[Byte] =
      fields.collectFirst { case (`n`, Right(b)) => b }.get

    val asset = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "mysql::h/shop/orders",
        name = "orders", service = "mysql", `type` = "table"),
      profile = Some(graft.model.TableProfile(totalRows = 42L)),
      schema = Seq(graft.model.ColumnDef(name = "id", dataType = "bigint",
        isNullable = false, length = 8L)),
      lineage = Some(graft.model.Lineage(
        upstreams = Seq(graft.model.Resource(urn = "up::1", name = "up", service = "x")))),
      properties = graft.model.Properties(
        tags = Seq("pii"), labels = Map("env" -> "prod"),
        attributes = """{"team":"data","score":2.5,"flag":true}"""))
    val df = Seq(asset).toDS().toDF()
    val out = graft.sinks.KafkaSink.payload(df, Some("resource.urn")).collect()(0)
    assert(out.getAs[String]("key") == "mysql::h/shop/orders")
    val top = decode(out.getAs[Array[Byte]]("value"))
    // Table: resource=1 profile=21 schema=22 lineage=32 properties=33
    assert(top.map(_._1).toSet == Set(1, 21, 22, 32, 33))
    val res = decode(sub(top, 1))
    assert(new String(sub(res, 1), "UTF-8") == "mysql::h/shop/orders")
    assert(new String(sub(res, 3), "UTF-8") == "mysql")
    assert(decode(sub(top, 21)).collectFirst { case (1, Left(v)) => v } == Some(42L))
    // schema facet wraps columns=1; column name=1, data_type=3, length=5;
    // is_nullable=false is omitted (proto3 zero value)
    val col0 = decode(sub(decode(sub(top, 22)), 1))
    assert(new String(sub(col0, 1), "UTF-8") == "id")
    assert(new String(sub(col0, 3), "UTF-8") == "bigint")
    assert(col0.collectFirst { case (5, Left(v)) => v } == Some(8L))
    assert(!col0.exists(_._1 == 4))
    // lineage upstreams=1 → Resource urn=1
    val up = decode(sub(decode(sub(top, 32)), 1))
    assert(new String(sub(up, 1), "UTF-8") == "up::1")
    // properties: tags=1, labels entry=2 (key=1 value=2), attributes=3 is a
    // google.protobuf.Struct with string/number/bool Values
    val props = decode(sub(top, 33))
    assert(new String(sub(props, 1), "UTF-8") == "pii")
    val label = decode(sub(props, 2))
    assert(new String(sub(label, 1), "UTF-8") == "env")
    assert(new String(sub(label, 2), "UTF-8") == "prod")
    val attrEntries = decode(sub(props, 3)).collect { case (1, Right(b)) => decode(b) }
    val attrMap = attrEntries.map(e => new String(sub(e, 1), "UTF-8") -> decode(sub(e, 2))).toMap
    assert(attrMap("team").exists { case (3, Right(b)) => new String(b, "UTF-8") == "data"; case _ => false })
    assert(attrMap("flag").exists { case (4, Left(1L)) => true; case _ => false })
    assert(attrMap.contains("score")) // number_value (fixed64)
    // json format keeps the old behavior
    val json = graft.sinks.KafkaSink.payload(df, Some("resource.urn"), "json").collect()(0)
    assert(json.getAs[String]("value").contains(""""urn":"mysql::h/shop/orders""""))
  }

  test("kafka sink encodes every asset kind with its own proto descriptor") {
    val topic = graft.model.TopicAsset(
      resource = graft.model.Resource(urn = "kafka::h/t1", name = "t1", service = "kafka"),
      profile = Some(graft.model.TopicProfile(numberOfPartitions = 3)))
    val topicDf = Seq(topic).toDS().toDF()
    // NOT the table encoder (TopicProfile has no totalRows) — its own
    assert(!graft.sinks.AssetProto.isTableFrame(topicDf.schema))
    val out = graft.sinks.KafkaSink.payload(topicDf, Some("resource.urn")).collect()(0)
    assert(out.getAs[String]("key") == "kafka::h/t1")
    val bytes = out.getAs[Array[Byte]]("value")
    // Topic: resource=1 (LEN) … profile=21 (LEN) holding partitions=2 varint
    assert((bytes(0) & 0xFF) == 0x0A) // tag field 1, wire 2
    // tag(21, LEN) = 170 → two-byte varint AA 01; len 2; field2 varint 3
    assert(bytes.containsSlice(Array[Byte](0xAA.toByte, 0x01, 0x02, 0x10, 0x03)))
    // user / group / dashboard frames each resolve a distinct encoder
    val userDf = Seq(graft.model.UserAsset(
      resource = graft.model.Resource(urn = "u", name = "u", service = "shield"),
      username = "jo", memberships = Seq(graft.model.Membership("g1", Seq("admin")))))
      .toDS().toDF()
    val groupDf = Seq(graft.model.GroupAsset(
      resource = graft.model.Resource(urn = "g", name = "g", service = "shield"),
      email = "g@x", members = Seq(graft.model.GroupMember("u1", "admin"))))
      .toDS().toDF()
    val dashDf = Seq(graft.model.DashboardAsset(
      resource = graft.model.Resource(urn = "d", name = "d", service = "grafana"),
      charts = Seq(graft.model.Chart(urn = "c1", name = "chart"))))
      .toDS().toDF()
    for (df <- Seq(userDf, groupDf, dashDf))
      assert(graft.sinks.AssetProto.encoderFor(df.schema).isDefined, df.schema.fieldNames.toSeq)
    assert(graft.sinks.KafkaSink.payload(userDf, None).collect()(0)
      .getAs[Array[Byte]]("value").nonEmpty)
    // unknown frames (no resource facet) still fall back to JSON
    val plain = Seq(("a", 1)).toDF("x", "y")
    assert(graft.sinks.AssetProto.encoderFor(plain.schema).isEmpty)
    assert(graft.sinks.KafkaSink.payload(plain, None).collect()(0)
      .getAs[String]("value").contains(""""x":"a""""))
  }

  test("kafka sink counts inside the write action: one upstream pass, count == rows") {
    // standalone use (no agent persist): the Observation count must come
    // from the write itself, not a second count() that re-runs the pipeline
    val scans = spark.sparkContext.longAccumulator("upstream-scans")
    val base = (1 to 7).map(i => (s"u$i", i)).toDF("x", "y")
    import org.apache.spark.sql.Encoders
    val traced = base.map { r =>
      scans.add(1); (r.getString(0), r.getInt(1))
    }(Encoders.tuple(Encoders.STRING, Encoders.scalaInt)).toDF("x", "y")
    val n = graft.sinks.KafkaSink.sink(traced, Map(
      "brokers" -> "b:9092", "topic" -> "t",
      "format" -> "json", "output_format" -> "noop"))
    assert(n == 7L)
    assert(scans.value == 7L) // exactly one pass over the upstream
  }

  test("the ndjson file sink writes the bytes Dataset.toJSON gives") {
    import org.apache.spark.sql.functions._
    val df = Seq(
        (1L, Some("plain"), 0.1, Seq(Seq(1, 2), Seq()), "2024-03-01 12:34:56.789",
          "naïve café — 日本語 😀 \"q\" \\ \n\t"),
        (2L, None, -0.0, Seq(Seq(3)), "1970-01-01 00:00:00",
          ""),
        (3L, Some("x"), 1e300, Seq.empty[Seq[Int]], "2038-01-19 03:14:07.5",
          "\u0001 control"))
      .toDF("id", "maybe", "d", "nested", "ts", "text")
      .withColumn("ts", to_timestamp(col("ts")))
      .withColumn("d2", when(col("id") === 2, lit(Double.NaN))
        .when(col("id") === 3, lit(Double.PositiveInfinity)).otherwise(1.5))
      .withColumn("st", struct(col("maybe").as("m"),
        struct(col("d").as("inner.d"), array(col("maybe")).as("arr")).as("s")))
      .withColumn("a.b", col("id") * 10)
      .withColumn("nul", lit(null).cast("string"))
      .withColumn("day", to_date(col("ts")))
      .withColumn("dec", (col("id") / 3).cast("decimal(10,4)"))
      .withColumn("kv", map(col("text"), col("id")))
    val out = Files.createTempDirectory("ndjsonout").resolve("x.ndjson")
    assert(graft.sinks.FileSink.sink(df,
      Map("path" -> out.toString, "format" -> "ndjson")) == 3L)
    val want = df.toJSON.collect().map(_ + "\n").mkString
    assert(Files.readString(out, java.nio.charset.StandardCharsets.UTF_8) ==
      want)
    assert(want.contains("\"a.b\":10") && want.contains("日本語"), want)
  }

  test("yaml file sink writes a parseable list") {
    val df = Seq(("a", 1), ("b", 2)).toDF("name", "v")
    val out = Files.createTempDirectory("yamlout").resolve("x.yaml")
    val n = graft.sinks.FileSink.sink(df,
      Map("path" -> out.toString, "format" -> "yaml"))
    assert(n == 2)
    val loaded = new org.yaml.snakeyaml.Yaml()
      .load[java.util.List[Object]](Files.readString(out))
    assert(loaded.size() == 2)
  }
}

class SchemaFormatsSpec extends SparkSpec {
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  test("JSON-Schema draft 2020-12 output") {
    val js = graft.sinks.SchemaFormats.toJsonSchema(schema, "urn:t1", "desc")
    assert(js.contains(""""$schema": "https://json-schema.org/draft/2020-12/schema""""))
    assert(js.contains(""""id": {"type": "number"}"""))
    assert(js.contains(""""name": {"type": ["string", "null"]}"""))
  }

  test("Avro record schema output") {
    val av = graft.sinks.SchemaFormats.toAvroSchema(schema, "t1")
    assert(av.contains(""""type": "record""""))
    assert(av.contains("""{"name": "id", "type": "long"}"""))
    assert(av.contains("""{"name": "score", "type": ["null", "double"]}"""))
    // must be valid Avro per the bundled avro library
    new org.apache.avro.Schema.Parser().parse(av)
  }

  test("compass sink PATCHes payload with lineage and templated labels") {
    import spark.implicits._
    val asset = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "mysql::h/shop/orders",
        name = "orders", service = "mysql", `type` = "table"),
      lineage = Some(graft.model.Lineage(
        upstreams = Seq(graft.model.Resource(urn = "up::1", name = "up", service = "x")))),
      properties = graft.model.Properties(attributes = """{"team": "data-eng"}"""))
    val df = Seq(asset).toDS().toDF()
    val posts = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val poster = new graft.sinks.HttpPoster {
      def post(url: String, method: String, headers: Map[String, String],
               body: String): Int = { posts += ((url, method, body)); 200 }
    }
    val n = new graft.sinks.CompassSink(poster).sink(df, Map(
      "host" -> "http://compass",
      "labels" -> Map("team" -> "$properties.attributes.team", "env" -> "prod")))
    assert(n == 1L)
    val (url, method, body) = posts(0)
    assert(url == "http://compass/v1beta1/assets" && method == "PATCH")
    assert(body.contains(""""urn":"mysql::h/shop/orders""""))
    assert(body.contains(""""upstreams":["up::1"]"""))
    assert(body.contains(""""team":"data-eng""""))  // templated from attributes
    assert(body.contains(""""env":"prod""""))       // literal label
  }

  test("stencil sink posts a JSON-Schema document per table asset") {
    import spark.implicits._
    val asset = graft.model.TableAsset(
      resource = graft.model.Resource(urn = "mysql::h/shop/orders",
        name = "orders", service = "mysql", `type` = "table"),
      schema = Seq(
        graft.model.ColumnDef(name = "id", dataType = "bigint", isNullable = false),
        graft.model.ColumnDef(name = "note", dataType = "varchar", isNullable = true)))
    val df = Seq(asset).toDS().toDF()
    val posts = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val poster = new graft.sinks.HttpPoster {
      def post(url: String, method: String, headers: Map[String, String],
               body: String): Int = { posts += ((url, body)); 201 } // 201 Created = stencil success
    }
    val n = new graft.sinks.StencilSink(poster).sink(df,
      Map("host" -> "http://st", "namespace_id" -> "ns"))
    assert(n == 1L)
    val (url, body) = posts(0)
    // schemaID keeps '::' — only '/' is dotted (stencil.go:157)
    assert(url == "http://st/v1beta1/namespaces/ns/schemas/mysql::h.shop.orders")
    assert(body.contains(""""$id": "mysql::h/shop/orders.json""""))
    assert(body.contains(""""title": "orders""""))
    assert(body.contains(""""id": {"type": "number"}"""))
    assert(body.contains(""""note": {"type": ["string", "null"]}"""))
  }

  test("stencil avro format emits parseable Avro from the column facet") {
    val cols = Seq(("id", "bigint", false), ("name", "varchar", true))
    val av = graft.sinks.SchemaFormats.columnsToAvroSchema(cols, "orders")
    new org.apache.avro.Schema.Parser().parse(av)
    assert(av.contains("""{"name": "id", "type": "long"}"""))
  }
}
