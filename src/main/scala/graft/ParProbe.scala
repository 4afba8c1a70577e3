package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parallelism receipts for the rows the sf0.1 bench cannot adjudicate
  * (VERDICT r15: at sf0.1 the whole bench is fixed-overhead-bound — 8
  * cores vs 32 cost 0.5%, so core-count ratios ≈ 1 prove nothing). This
  * probe replicates the inputs `factor`× (the ScaleProbe corpus rule: id
  * shift preserving the planted % 250 base structure; embeddings get the
  * rotate-per-replica rule so replica geometry stays distinct) and times
  * the core computation of the expensive ratio-≈1 rows VERDICT named:
  * d_setjoin_ppjoin, d_bm25_prf, d_bm25f_incremental, s_mutual_knn_stored,
  * s_embed_keepers, the hybrid pair (s_hybrid_linear / d_hybrid_eval),
  * and q_join_cardinality_audit.
  *
  * Run MANUALLY at two core counts and compare per-probe seconds — the
  * parallelism receipt is the cross-run ratio at factor >> 1 where the
  * job is genuinely compute-bound:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ParProbe /root/testdata/sf0.1 10"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.ParProbe /root/testdata/sf0.1 10"
  * Not part of the driver contract (like ScaleProbe). Store builds are
  * timed separately ("_build" lines) so the query-path receipt is clean.
  */
object ParProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val cpus = LocalSession.cpus("32")
    val spark = LocalSession(logLevel = "ERROR")

    // the ScaleProbe replication rules, so both probes measure one corpus
    val docReplicas = ScaleProbe.docReplicator(Tables(spark, sfDir,
      "documents").select(col("doc_id"), col("text"), col("lang")))
    def corpus(f: Int): DataFrame = docReplicas.corpus(f)
    val emb = ScaleProbe.embReplicator(spark, sfDir)
    val en = emb.n
    def embOf(f: Int): DataFrame = emb.corpus(f)

    def time(name: String, f: Int)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val rows = df.count()
      println(f"""{"probe":"$name","factor":$f,"cpus":$cpus,""" +
        f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f,"rows":$rows}""")
    }
    def timed(name: String, f: Int)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"""{"probe":"$name","factor":$f,"cpus":$cpus,""" +
        f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }
    val tmp = System.getProperty("java.io.tmpdir")

    for (f <- Seq(1, factor)) {
      val docs = corpus(f)
      val queries = docs.filter(col("doc_id") < 5)

      // d_setjoin_ppjoin: the prefix-filter set-similarity self-join.
      // Replicas are verbatim near-dups of each other, so output pairs
      // (and verify work) grow ~f² by construction — the receipt is the
      // cross-core ratio at fixed f, not linearity in f.
      time("d_setjoin_ppjoin", f) {
        operators.Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 5)
      }

      // d_bm25_prf: both ranking passes + mining over the replicated corpus
      time("d_bm25_prf", f) {
        operators.Retrieval.bm25PrfTopK(docs, queries,
          "doc_id", "text", "doc_id", "text")
      }

      // d_bm25f_incremental: fielded store on even ids (build timed
      // separately), odd ids fold in logically, merged serves the query
      val fPath = new java.io.File(tmp, s"graft_parprobe_bm25f_$f").getAbsolutePath
      timed("bm25f_store_build", f) {
        operators.Retrieval.writeBm25fStore(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", fPath)
      }
      time("d_bm25f_incremental", f) {
        operators.Retrieval.bm25fTopKStored(
          operators.Retrieval.bm25fApplyDelta(
            operators.Retrieval.readBm25fStore(spark, fPath),
            docs.filter(col("doc_id") % 2 === 1), "doc_id", "text"),
          queries, "doc_id", "doc_id", "text")
      }

      // hybrid rows: BM25 leg off a written store + dense IVF leg off the
      // first-8-unit layout, fused (RRF for the eval row's input, linear
      // for s_hybrid_linear), evaluated with the leave-self-out qrels
      val vecs = embOf(f)
      val seeds = vecs.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val unit = seeds.map { v =>
        val nn = math.sqrt(v.map(x => x * x).sum)
        if (nn == 0.0) v else v.map(_ / nn)
      }
      val bPath = new java.io.File(tmp, s"graft_parprobe_bm25_$f").getAbsolutePath
      val iPath = new java.io.File(tmp, s"graft_parprobe_ivf_$f").getAbsolutePath
      timed("hybrid_stores_build", f) {
        operators.Retrieval.writeBm25Store(docs, "doc_id", "text", bPath)
        operators.Similarity.writeIvfStore(vecs, "vec_id", "embedding",
          unit, iPath)
      }
      def bmLeg = operators.Retrieval.bm25TopKStored(
        operators.Retrieval.readBm25Store(spark, bPath),
        docs.filter(col("doc_id") < 5), "doc_id", "doc_id", "text")
      def denseLeg = operators.Similarity.ivfTopKStored(
          spark.read.parquet(iPath),
          vecs.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, coarse = unit, nprobe = 3)
        .select(col("q_id").cast("bigint").as("q_id"),
          col("rank").as("rnk"), col("c_id").cast("bigint").as("doc_id"),
          col("sim").as("score"))
      time("s_hybrid_linear", f) {
        operators.Retrieval.linearFuse(
          bmLeg.select(col("q_id"), col("doc_id"), col("score")),
          denseLeg.select(col("q_id"), col("doc_id"), col("score")),
          "doc_id", alpha = 0.5)
      }
      time("d_hybrid_eval", f) {
        operators.Retrieval.retrievalEval(
          operators.Retrieval.rrfFuse(Seq(
              bmLeg.select(col("q_id"), col("rnk"), col("doc_id")),
              denseLeg.select(col("q_id"), col("rnk"), col("doc_id"))),
            "doc_id").localCheckpoint(),
          docs, "doc_id", "lang")
      }

      // s_mutual_knn_stored: IVF self-join top-5 + mutual filter over the
      // replicated store
      time("s_mutual_knn_stored", f) {
        operators.Similarity.mutualTopK(
          operators.Similarity.ivfSelfTopK(spark.read.parquet(iPath),
            "vec_id", "embedding", k = 5, coarse = unit, nprobe = 3))
      }

      // s_embed_keepers: centroid-blocked near-dup pairs → connected
      // components → best-norm representative per cluster
      time("s_embed_keepers", f) {
        val scoped = vecs.filter(col("vec_id") % en < 300)
        val labels = operators.Dedup.connectedComponents(
          operators.Similarity.nearDupByCentroid(scoped, "vec_id",
            "embedding", unit, threshold = 0.35, nprobe = 4)
            .select(col("a"), col("b")))
        val norms = scoped.select(col("vec_id").as("id"),
          round(graft.functions.VectorFunctions.vector_norm(
            col("embedding")), 4).as("norm"))
        operators.Dedup.keepBest(labels, norms, "norm")
      }
      vecs.unpersist()

      // q_join_cardinality_audit's exact side: per-key count join over
      // replicated lineitem/orders (keys shifted per replica)
      val li = Tables(spark, sfDir, "lineitem").select(col("l_orderkey"))
      val ord = Tables(spark, sfDir, "orders").select(col("o_orderkey"))
      val maxK = ord.agg(max(col("o_orderkey"))).head.getLong(0) + 1
      val liF = (0 until f).map(k => li.select(
          (col("l_orderkey") + lit(k * maxK)).as("term")))
        .reduce(_ union _).localCheckpoint()
      val ordF = (0 until f).map(k => ord.select(
          (col("o_orderkey") + lit(k * maxK)).as("term")))
        .reduce(_ union _).localCheckpoint()
      time("q_join_cardinality_exact", f) {
        liF.groupBy(col("term")).agg(count(lit(1)).as("na"))
          .join(ordF.groupBy(col("term")).agg(count(lit(1)).as("nb")), "term")
          .agg(sum(col("na") * col("nb")).cast("bigint").as("exact_n"))
      }
      liF.unpersist(); ordF.unpersist()
      docs.unpersist()
    }
    spark.stop()
  }
}
