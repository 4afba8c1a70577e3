package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * stream the corpus once, rank per query. No shuffle of the corpus at all:
  * the only shuffle is the per-query top-k window over (|Q| · k) candidate
  * rows. This is the exact-answer path and scales to any corpus size as a
  * single map-side pass when |Q| is broadcast-able.
  *
  * Scale path: IVF-style partition pruning — assign every vector to its
  * nearest of C centroids (map-side, centroids broadcast), bucket the
  * corpus by centroid id, and probe only `nprobe` buckets per query. At
  * 100 TB this turns a full scan into reading ~nprobe/C of the data; the
  * centroid assignment doubles as a physical partitioning key for parquet
  * layout.
  *
  * All vector math is `zip_with`/`aggregate` higher-order expressions over
  * `array<double>` — codegen'd, no UDFs, no serialization cliffs.
  */
object Similarity {

  /** Dot product of two array<double> columns (sequential fold — bitwise
    * deterministic for a given element order).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Native codegen'd cosine (graft.functions.CosineSimilarity) — identical
    * result to `cosine` (same sequential accumulation order) but runs as a
    * primitive loop inside whole-stage codegen instead of interpreted
    * higher-order lambdas. Requires VectorFunctions.register(spark).
    */
  def fastCosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** Brute-force cosine top-k: for every query row, the k nearest corpus
    * rows (excluding identical ids). Query side MUST be small — it is
    * broadcast. Ties broken by candidate id for determinism.
    *
    * Returns (q_id, c_id, rank, sim).
    */
  /** Reciprocal (mutual) kNN filter: keep the unordered pairs where EACH
    * side ranks in the other's top-k — the classic high-precision
    * candidate filter for embedding dedup (a one-directional neighbor is
    * often just a hub; a mutual one is a near-duplicate). Operates purely
    * in LIST space: input is any ranked `(q_id, c_id, rank, sim)` frame
    * (brute-force here; the stored-IVF top-k lists in production), and
    * the filter is one self-join over N·k rows — never the corpus.
    * Cosine is symmetric, so `sim` is identical in both directions and
    * carried from the a→b row.
    */
  def mutualTopK(ranked: DataFrame): DataFrame = {
    val f = ranked.select(col("q_id").as("a"), col("c_id").as("b"),
      col("rank").as("rank_ab"), col("sim"))
    val g = ranked.select(col("q_id").as("gb"), col("c_id").as("ga"),
      col("rank").as("rank_ba"))
    f.join(g, col("a") === col("ga") && col("b") === col("gb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("rank_ab"), col("rank_ba"), col("sim"))
  }

  /** Per-label semantic-drift monitor: cosine between the centroids of
    * two corpus halves (even vs odd ids). Centroids are never divided
    * out — cosine is scale-invariant, so the angle between the
    * COMPONENT-WISE SUM vectors equals the angle between the means, and
    * sums of integers are order-independent: each component is
    * pointwise-rounded to milli units, summed as BIGINTs per dimension,
    * and the integer dot products feed one final rounded division.
    * (Milli, not micro: with |v|≲4 and ≤10⁵ rows per half, the 64-dim
    * integer dot stays ≤ ~10¹⁶ < 2⁶³.)
    *
    * Scale shape: one posexplode to (label, half, dim, milli) →
    * partial-agg groupBy over |labels|·2·dims rows → the dot/norm rollup
    * touches only that bounded frame.
    */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String): DataFrame = {
    val comp = emb.select(col(labelCol).as("label"),
        (pmod(col(idCol), lit(2)) === 0).as("even"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("even"), col("pos"))
      .agg(sum(round(col("v") * 1000).cast("bigint")).as("s"))
    val a = comp.filter(col("even")).select(col("label"), col("pos"),
      col("s").as("sa"))
    val b = comp.filter(!col("even")).select(col("label").as("lb"),
      col("pos").as("pb"), col("s").as("sb"))
    val dots = a.join(b, col("label") === col("lb") && col("pos") === col("pb"))
      .groupBy(col("label"))
      .agg(sum(col("sa") * col("sb")).as("dot"),
        sum(col("sa") * col("sa")).as("na2"),
        sum(col("sb") * col("sb")).as("nb2"))
    val counts = emb.groupBy(col(labelCol).as("label"))
      .agg(sum(when(pmod(col(idCol), lit(2)) === 0, 1L).otherwise(0L))
        .as("n_even"),
        sum(when(pmod(col(idCol), lit(2)) === 0, 0L).otherwise(1L))
        .as("n_odd"))
    dots.join(counts, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"),
        round(lit(1e6) * (col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double")))))
          .cast("bigint").as("cos_ppm"))
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, vector_norm}
    // norms computed ONCE per corpus/query row, not per (q, c) pair — the
    // fused cosine kernel would redo the corpus-side norm |Q| times
    val c = corpus.select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    val q = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", vector_norm(col("q_vec")))
    val scored = c.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        try_divide(dot_product(col("q_vec"), col("c_vec")),
          col("q_norm") * col("c_norm")).as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("sim"), asc("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  /** Per-row int8 quantization of the UNIT vector: codes =
    * round(127·v/‖v‖) (zero vectors code to zeros). Scaling by the L2
    * norm — not max-abs — keeps the per-vector scale factor CONSTANT
    * across rows, so an integer dot product of two code vectors is
    * proportional to cosine up to quantization noise; a max-abs scale
    * would boost spread-out vectors and distort ranking. The norm
    * materializes as its OWN column first — HOF lambdas get no CSE, so
    * an inline norm would re-reduce the vector per ELEMENT (O(d²)/row).
    */
  def int8Codes(df: DataFrame, idCol: String, vecCol: String,
                outId: String, outCodes: String): DataFrame = {
    import graft.functions.VectorFunctions.vector_norm
    df.select(col(idCol).as(outId), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__m", vector_norm(col("__v")))
      .withColumn(outCodes,
        when(col("__m") === 0, transform(col("__v"), _ => lit(0)))
          .otherwise(transform(col("__v"),
            x => round((x * lit(127.0)) / col("__m")).cast("int"))))
      .select(col(outId), col(outCodes))
  }

  /** Integer-exact quantized brute-force ANN: rank by the INTEGER dot
    * product of per-vector-scaled int8 codes. The production win is
    * bytes — 8-bit codes are a quarter of float32 and an eighth of the
    * double math, and SIMD int8 dot products are the fastest kernel on
    * every modern vector engine. The engineering win HERE is exactness:
    * every score is an exact BIGINT (no float summation order anywhere),
    * so ranking is bit-deterministic and the ENTIRE chain — scale,
    * quantize, dot, rank — replays in ANSI SQL with zero tolerance,
    * something float cosine can only approximate with rounding.
    * Returns (q_id, rnk, c_id, score).
    */
  def int8TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame =
    int8TopKStored(int8Codes(corpus, idCol, vecCol, "c_id", "c_codes"),
      queries, idCol, vecCol, k)

  /** Write-once int8 code store: a quarter of the float32 bytes (an
    * eighth of double), scanned instead of the raw vectors by every
    * later quantized query — [[writeVectorStore]]'s cheap sibling.
    */
  def writeInt8Store(corpus: DataFrame, idCol: String, vecCol: String,
                     path: String, parts: Int = 8): Unit =
    Layout.writer(int8Codes(corpus, idCol, vecCol, "c_id", "c_codes")
        .repartition(parts, col("c_id")))
      .mode("overwrite").parquet(path)

  /** [[int8TopK]] against stored codes (c_id, c_codes): queries quantize
    * inline (tiny), the corpus side reads ONLY the code store — same
    * integer scoring, row-identical to the inline spelling.
    */
  def int8TopKStored(codes: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = int8Codes(queries, idCol, vecCol, "q_id", "q_codes")
    val scored = codes.join(broadcast(q), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("q_codes"), col("c_codes"),
            (a, b) => (a * b).cast("long")),
          lit(0L), (acc, x) => acc + x).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("c_id"), col("score"))
  }

  /** L2-normalize an embedding column in place (unit vectors). The
    * ingest-time optimization for similarity search at corpus scale:
    * normalize ONCE when vectors land, and every later cosine becomes a
    * bare dot product — brute-force scans drop the per-pair norm work
    * entirely. Zero vectors stay zero (null-safe division would poison
    * downstream dots).
    */
  def normalized(df: DataFrame, vecCol: String): DataFrame = {
    import graft.functions.VectorFunctions.vector_norm
    // norm into its own column first: referencing vector_norm inside the
    // transform lambda would re-evaluate the O(d) norm per ELEMENT
    df.withColumn("__norm", vector_norm(col(vecCol).cast("array<double>")))
      .withColumn(vecCol,
        when(col("__norm") === 0.0, col(vecCol).cast("array<double>"))
          .otherwise(transform(col(vecCol).cast("array<double>"),
            x => x / col("__norm"))))
      .drop("__norm")
  }

  /** Assign each vector to its nearest centroid (IVF coarse quantizer).
    * Centroids are a Scala-side list (broadcast as literals) — at real
    * scale they come from a sampled k-means; here any deterministic
    * codebook works. Adds `centroid_id`.
    *
    * Distances run through the codegen'd L2 kernel, one expression per
    * centroid (C is small by construction) — the interpreted
    * `transform(zip_with(...))` formulation paid per-element lambda
    * dispatch × C × dims for every corpus row.
    */
  def assignCentroids(df: DataFrame, vecCol: String,
                      centroids: Seq[Seq[Double]]): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val dists = array(centroids.map(c =>
      graft.functions.VectorFunctions.l2_squared(v, array(c.map(lit): _*))): _*)
    df.withColumn("centroid_id",
      array_position(dists, array_min(dists)).cast("int") - 1)
  }

  /** Lloyd-refine an initial codebook against the corpus: assign every
    * vector to its nearest centroid (map-side, centroids broadcast as
    * literals), recompute each centroid as the member mean, repeat.
    * Empty clusters keep their previous centroid. Deterministic given a
    * deterministic `init` (no random restarts).
    *
    * Scale shape: the assign pass is a pure scan; the mean is a
    * posexplode → groupBy (centroid_id, dim) with map-side partial
    * aggregation, so the shuffle carries at most C·d·partitions cells, not
    * rows — and only C·d doubles ever reach the driver. At 100 TB you run
    * this on a small sample (`df.sample`) — the codebook only needs to
    * capture the density structure, not see every row.
    */
  def kmeansRefine(df: DataFrame, vecCol: String, init: Seq[Seq[Double]],
                   iters: Int = 5, spherical: Boolean = false): Seq[Seq[Double]] = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    // spherical (cosine-metric) k-means: members are assigned by direction
    // only, so normalize them once up front and re-normalize every mean —
    // L2-nearest among unit vectors IS cosine-nearest
    val members =
      if (spherical) normalized(df.select(col(vecCol).cast("array<double>").as("v")), "v")
      else df.select(col(vecCol).cast("array<double>").as("v"))
    var cents = if (spherical) init.map(unit) else init
    for (_ <- 0 until iters) {
      val assigned = assignCentroids(members, "v", cents)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim")).agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.indices.map { i =>
        val m = means.getOrElse(i, cents(i))
        if (spherical) unit(m) else m
      }
    }
    cents
  }

  /** Driver-side Lloyd over an already-collected sample — the IVF codebook
    * path for real corpora (FAISS-style practice): a coarse quantizer only
    * needs the density structure, so train on a bounded deterministic
    * sample collected ONCE instead of scanning the corpus per iteration
    * ([[kmeansRefine]] costs 2 distributed passes × iters; this costs one
    * collect job + O(sample × C × d × iters) driver arithmetic, which for
    * a ≤10k sample and a ≤256-centroid codebook is microseconds-per-row).
    * Same semantics as [[kmeansRefine]]: empty clusters keep their previous
    * centroid; `spherical` normalizes members and means (cosine metric).
    */
  def kmeansLocal(samples: Seq[Seq[Double]], init: Seq[Seq[Double]],
                  iters: Int = 5, spherical: Boolean = false): Seq[Seq[Double]] = {
    def unit(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = (if (spherical) samples.map(unit) else samples).map(_.toArray)
    var cents = (if (spherical) init.map(unit) else init).map(_.toArray)
    if (pts.isEmpty) return init
    val dim = pts.head.length
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.size)(new Array[Double](dim))
      val counts = new Array[Long](cents.size)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.size) {
          var d = 0.0; var i = 0
          val cent = cents(c)
          while (i < dim) { val t = p(i) - cent(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0L) cents(c)
        else {
          val m = sums(c).map(_ / counts(c))
          if (spherical) unit(m.toSeq).toArray else m
        }
      }
    }
    cents.map(_.toSeq)
  }

  /** IVF-pruned top-k: probe only the query's `nprobe` nearest centroid
    * buckets instead of the full corpus. Approximate (recall < 1 when the
    * true neighbor lives in an unprobed bucket) but reads ~nprobe/C of the
    * data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, centroids: Seq[Seq[Double]],
              nprobe: Int = 2): DataFrame = {
    // the ranking metric is COSINE, so assignment must be by direction:
    // assign/probe on unit vectors (L2-nearest among unit vectors is
    // cosine-nearest). Pair with a spherical codebook ([[kmeansRefine]]
    // with spherical=true) — unit centroids make the equivalence exact.
    val corp = normalized(
      corpus.select(col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("c_vec"),
        col(vecCol).cast("array<double>").as("c_unit")),
      "c_unit")
    val c = assignCentroids(corp, "c_unit", centroids).drop("c_unit")
    // per-query probe list: ids of the nprobe nearest centroids
    val qv = col("q_unit")
    val qdists = array(centroids.map(cc =>
      graft.functions.VectorFunctions.l2_squared(qv, array(cc.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(centroids.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val q = normalized(
        queries.select(col(idCol).as("q_id"),
          col(vecCol).cast("array<double>").as("q_vec"),
          col(vecCol).cast("array<double>").as("q_unit")),
        "q_unit")
      .withColumn("probe_ids", probes)
      .drop("q_unit")
    val scored = c.withColumn("c_norm",
        graft.functions.VectorFunctions.vector_norm(col("c_vec")))
      .join(broadcast(q.withColumn("q_norm",
        graft.functions.VectorFunctions.vector_norm(col("q_vec")))),
        array_contains(col("probe_ids"), col("centroid_id")) &&
          col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        try_divide(graft.functions.VectorFunctions.dot_product(col("q_vec"), col("c_vec")),
          col("q_norm") * col("c_norm")).as("sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  /** Sign-LSH (random hyperplanes) near-dup: the codebook-free blocking
    * alternative to [[nearDupByCentroid]] — no k-means/sample pass needed,
    * which matters when the corpus has no stable centroid structure yet
    * (cold start, streaming ingest). Each vector gets a k-bit signature
    * (sign of the dot product with k seeded Gaussian hyperplanes, computed
    * by the codegen'd dot kernel), the bits split into `bands`; vectors
    * sharing any band bucket become candidates, verified with exact cosine.
    * Recall is tunable: more bands (fewer bits each) → higher recall, more
    * candidates. Same shuffle shape as the other blockers: map-side
    * signatures, ONE bucket groupBy carrying ids only, capped buckets.
    */
  def nearDupBySignLsh(df: DataFrame, idCol: String, vecCol: String,
                       dims: Int, threshold: Double, k: Int = 16,
                       bands: Int = 8, seed: Long = 42L,
                       maxBucketSize: Int = 100000): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    import graft.functions.VectorFunctions.{dot_product, vector_norm}
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(k)(Seq.fill(dims)(rnd.nextGaussian()))
    val e = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val bits = planes.map(p =>
      (dot_product(col("v"), array(p.map(lit): _*)) >= 0).cast("int"))
    val r = k / bands
    val bandVals = (0 until bands).map { b =>
      (0 until r).map(i => bits(b * r + i) * lit(1 << i)).reduce(_ + _)
    }
    val assigned = e.select(col("id"),
      posexplode(array(bandVals: _*)).as(Seq("band_id", "band_val")))
    val pairs = assigned.groupBy(col("band_id"), col("band_val"))
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(ArrayPairs.pairStructs(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
      .localCheckpoint()
    val candidateIds = pairs
      .select(explode(array(col("a"), col("b"))).as("cid")).distinct()
    val vecs = e.join(candidateIds, col("id") === col("cid"), "leftsemi")
      .select(col("id"), col("v"), vector_norm(col("v")).as("n"))
      .localCheckpoint()
    val va = vecs.select(col("id").as("a"), col("v").as("va"), col("n").as("na"))
    val vb = vecs.select(col("id").as("b"), col("v").as("vb"), col("n").as("nb"))
    pairs.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("sim",
        try_divide(dot_product(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
  }

  /** Bucketed embedding near-dup: the scale path that replaces the all-pairs
    * inequality join (a cartesian) with centroid blocking — the embedding
    * analogue of [[Dedup.candidatePairs]].
    *
    * Pipeline: multi-assign every vector to its `nprobe` nearest centroids
    * (map-side, centroids broadcast as literals — multi-probe so pairs that
    * straddle a centroid boundary still co-bucket), ONE groupBy keyed by
    * centroid id carrying ids only (vectors never ride the shuffle),
    * in-bucket pair expansion with a `maxBucketSize` cap, then exact-cosine
    * verification on the candidate pairs alone, vectors semi-joined down to
    * candidates first. Approximate: recall < 1 when a qualifying pair shares
    * no probed centroid; raise `nprobe` (or centroid count) to trade
    * compute for recall.
    */
  def nearDupByCentroid(df: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Seq[Double]], threshold: Double,
                        nprobe: Int = 2, maxBucketSize: Int = 100000): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val e = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val vdists = array(centroids.map(c =>
      l2_squared(col("v"), array(c.map(lit): _*))): _*)
    val probeIds = slice(transform(array_sort(
      zip_with(vdists, sequence(lit(0), lit(centroids.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val assigned = e.select(col("id"), explode(probeIds).as("bucket"))
    // candidate pairs feed the verify join AND the id prefilter: checkpoint
    // so the assignment+bucket pipeline runs once, not per consumer
    val pairs = assigned.groupBy(col("bucket"))
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(ArrayPairs.pairStructs(col("ids"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
      .localCheckpoint()
    // exact-cosine verify on candidates only; norms once per vector; the
    // vector frame is consumed by both join sides → checkpoint it too
    val candidateIds = pairs
      .select(explode(array(col("a"), col("b"))).as("cid")).distinct()
    val vecs = e.join(candidateIds, col("id") === col("cid"), "leftsemi")
      .select(col("id"), col("v"), vector_norm(col("v")).as("n"))
      .localCheckpoint()
    val va = vecs.select(col("id").as("a"), col("v").as("va"), col("n").as("na"))
    val vb = vecs.select(col("id").as("b"), col("v").as("vb"), col("n").as("nb"))
    pairs.join(va, Seq("a")).join(vb, Seq("b"))
      .withColumn("sim",
        try_divide(dot_product(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    * then within-cluster cosine pruning — the embedding-space analogue of
    * MinHash dedup, aimed at *semantic* (paraphrase/re-render) duplicates
    * exact and fuzzy dedup can't see.
    *
    * Pipeline: unit-normalize, assign each vector to its nearest centroid
    * (map-side, centroids broadcast as literals), give every cluster
    * member a keep-priority — LOWEST cosine to the centroid first (the
    * paper keeps the member farthest from the centroid, the "least
    * prototypical" exemplar), ties by id — then drop any member whose
    * cosine to a HIGHER-priority member of the same cluster is >= `eps`.
    * Pair checking never crosses clusters, so the quadratic is bounded by
    * cluster size, not corpus size: the one shuffle keys on centroid_id
    * and C tracks corpus size at a fixed cluster width.
    *
    * `maxClusterSize` is the scale guard: an oversized cluster SKIPS
    * in-cluster checking (conservative — every member is kept; dedup
    * only ever loses pairs, never data) and `dropAudit` makes a binding
    * cap loud with `skipped_clusters` / `max_cluster_size` (the
    * [[Dedup.bandedHammingPairs]] `dropped_buckets` contract).
    *
    * Returns the keepers (id, centroid_id, c_sim rounded 4); drop set =
    * input ids minus keepers.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Seq[Seq[Double]], eps: Double,
               maxClusterSize: Int = Int.MaxValue,
               dropAudit: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    import graft.functions.VectorFunctions.dot_product
    val u = normalized(df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("__u")), "__u")
    val cdots = array(centroids.map(c =>
      dot_product(col("__u"), array(c.map(lit): _*))): _*)
    val assigned = assignCentroids(u, "__u", centroids)
      .withColumn("c_sim", element_at(cdots, col("centroid_id") + 1))
    val wPr = Window.partitionBy(col("centroid_id"))
      .orderBy(asc("c_sim"), asc("id"))
    val wSz = Window.partitionBy(col("centroid_id"))
    // priority + cluster size in one pass; checkpointed because the
    // frame feeds both sides of the pair join AND the final anti-join
    val ranked = assigned
      .withColumn("pr", row_number().over(wPr))
      .withColumn("csz", count(lit(1)).over(wSz))
      .localCheckpoint()
    val inScope = ranked.filter(col("csz") <= maxClusterSize)
    val hi = inScope.select(col("centroid_id"), col("__u").as("ua"),
      col("pr").as("pra"))
    val lo = inScope.select(col("centroid_id"), col("id"),
      col("__u").as("ub"), col("pr").as("prb"))
    val dropped = lo.join(hi, Seq("centroid_id"))
      .filter(col("pra") < col("prb") &&
        dot_product(col("ua"), col("ub")) >= eps)
      .select(col("id")).distinct()
    val kept = ranked.join(dropped, Seq("id"), "left_anti")
    // audit rides the main output path (a side-branch CollectMetrics can
    // be skipped by adaptive planning): pr == 1 marks one row per cluster
    // (observe forbids DISTINCT) and is never dropped — the top-priority
    // member has no higher-priority peer — and csz is cluster-constant,
    // so both metrics survive the anti-join intact
    val audited = dropAudit.fold(kept)(obs => kept.observe(obs,
      sum(when(col("csz") > maxClusterSize && col("pr") === 1, 1L)
        .otherwise(0L)).as("skipped_clusters"),
      max(col("csz")).as("max_cluster_size")))
    audited
      .select(col("id"), col("centroid_id"), round(col("c_sim"), 4).as("c_sim"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the 4×
    * storage/bandwidth cut of a large-scale embedding store (the FAISS
    * `SQ8`-style codec): per vector, scale = max|v|/127, codes =
    * round(v/scale) ∈ [−127, 127]. Pure map-side `transform` expressions —
    * no shuffle, no UDFs; quantizing 100 TB is a single scan that composes
    * with any downstream (the IVF path probes quantized buckets the same
    * way). Zero vectors get scale 0 and all-zero codes (guarded divide).
    *
    * Returns (id, scale: double, codes: array<int>); reconstruct with
    * [[dequantize]]. Every arithmetic step (abs/max, divide, half-up
    * round, the sequential error fold) is bit-reproducible in any engine
    * with IEEE doubles, so round-trip error is oracle-checkable.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    df.select(col(idCol).as("id"), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .select(col("id"), col("scale"),
        transform(col("v"), x =>
          when(col("scale") === 0.0, lit(0))
            .otherwise(round(x / col("scale"), 0).cast("int"))).as("codes"))
  }

  /** Reconstruct approximate vectors from [[quantizeInt8]] output. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  // ---------------------------------------------------------------------
  // Product quantization (PQ): the memory-compression scale path.
  //
  // [[quantizeInt8]] compresses 4× (float→int8, per-vector scale); PQ goes
  // much further: split the d-dim vector into m subspaces of d/m dims,
  // learn a k-centroid codebook per subspace, and store each vector as m
  // small codes — at m=8, k=16 a 64-dim float vector (256 B) becomes 8
  // nibbles (~4-8 B), a 32-64× compression that makes a 100 TB embedding
  // corpus's INDEX fit in cluster memory. Search is ADC (asymmetric
  // distance computation): per query, precompute an m×k lookup table of
  // partial squared distances to every centroid, score each corpus row
  // with m table lookups + adds (no vector math), shortlist, then re-rank
  // the shortlist with exact cosine against the original vectors.
  // ---------------------------------------------------------------------

  /** Train per-subspace PQ codebooks on a driver-side sample (same
    * bounded-sample discipline as the IVF codebook: the quantizer needs
    * density structure, not every row). `samples` should be unit-normalized
    * by the caller when the search metric is cosine — on unit vectors,
    * L2-ADC ordering approximates cosine ordering. Seeds are the first k
    * sub-vectors (deterministic, no RNG), Lloyd-refined per subspace with
    * plain (non-spherical) k-means — sub-vectors are not unit-norm even
    * when the full vector is.
    *
    * Returns codebooks(s)(j) = centroid j of subspace s, each of d/m dims.
    */
  def pqTrain(samples: Seq[Seq[Double]], m: Int, k: Int,
              iters: Int = 5): Seq[Seq[Seq[Double]]] = {
    require(samples.nonEmpty, "pqTrain needs a non-empty sample")
    val dim = samples.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    (0 until m).map { s =>
      val svs = samples.map(_.slice(s * sub, (s + 1) * sub))
      val seed = svs.take(k)
      kmeansLocal(svs, seed, iters, spherical = false)
    }
  }

  /** Encode each vector as m codebook codes. The vector is unit-normalized
    * first (cosine metric — see [[pqTrain]]); per subspace the code is the
    * argmin-L2 centroid, ties broken toward the LOWEST centroid index so
    * the assignment is engine-portable (the sorted-struct argmin orders by
    * (distance, index)). All distance math runs through the codegen'd
    * [[graft.functions.VectorExpressions]] L2 kernel over literal centroid
    * arrays — a pure map-side scan, no shuffle: encoding 100 TB is
    * embarrassingly parallel and the output (id + m small ints) is the
    * entire stored index.
    *
    * Returns (idCol, pq_codes: array<int> of length m).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val u = normalized(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("__pq_unit")),
      "__pq_unit")
    u.withColumn("pq_codes", pqCodesExpr(col("__pq_unit"), codebooks))
      .drop("__pq_unit")
  }

  /** The m-code PQ assignment expression over an already-unit-normalized
    * vector column — shared by [[pqEncode]] (query-path encode) and
    * [[writePqStore]] (ingest-time encode) so both paths are
    * bit-identical by construction. Argmin with index tie-break: sort
    * (distance, index) structs.
    */
  private def pqCodesExpr(u: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    import graft.functions.VectorFunctions.l2_squared
    val m = codebooks.size
    val k = codebooks.head.size
    val sub = codebooks.head.head.size
    array((0 until m).map { s =>
      val sv = slice(u, s * sub + 1, sub)
      val dists = array(codebooks(s).map(c =>
        l2_squared(sv, array(c.map(lit): _*))): _*)
      transform(array_sort(zip_with(dists, sequence(lit(0), lit(k - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
        st => st.getField("i"))(0)
    }: _*)
  }

  /** ADC top-k over a PQ index with exact re-rank.
    *
    * Scale shape (the point of PQ): the ADC scan touches ONLY the code
    * index — (id, m small ints) per row, never the vectors — with the
    * query set and its m×k lookup tables broadcast; scoring a corpus row
    * is m array lookups + adds inside whole-stage codegen. The corpus is
    * never shuffled: the only shuffles are the per-query shortlist window
    * (|Q|·shortlist rows) and the final top-k window (|Q|·shortlist rows
    * again). The re-rank then fetches exact vectors for shortlist
    * survivors ONLY, via a broadcast semi-style join of the (tiny)
    * shortlist against the corpus — at scale this is the FAISS refine
    * step: the full-precision vectors are read for |Q|·shortlist rows,
    * not |corpus|.
    *
    * Deterministic end to end given deterministic codebooks: ADC ties
    * (identical code tuples ⇒ bit-identical sums) and cosine ties break by
    * candidate id. Returns (q_id, c_id, rank, sim) like [[bruteForceTopK]].
    */
  /** IVF-PQ: coarse-bucket pruning composed with ADC scoring — the
    * standard big-corpus ANN pairing. Every corpus vector gets a coarse
    * centroid id (map-side, [[assignCentroids]] on unit vectors) AND an
    * m-code PQ signature; a query probes only its `nprobe` nearest coarse
    * buckets and ADC-scores just those rows' codes. At 100 TB the coarse
    * id doubles as the physical partition key, so a probe reads
    * ~nprobe/C of the data and each row read costs m byte-lookups — the
    * scan cost multiplies both savings. Codes quantize the RAW unit
    * vectors (not residuals): one shared codebook set keeps the chain
    * deterministic and engine-portable; the exact re-rank absorbs the
    * accuracy gap the same way it does for [[pqTopK]].
    *
    * Returns (q_id, c_id, rank, sim); recall gated by `RecallSpec`.
    */
  /** Id-partitioned full-precision vector store for point-lookup re-ranks.
    *
    * The PQ/IVF-PQ refine step fetches exact vectors for |Q|·shortlist
    * survivors; against a flat corpus that fetch is a full scan. Writing
    * the corpus once with `vs_part = id mod parts` as a directory
    * partition turns it into a pruned read: the re-rank joins the
    * broadcast shortlist on (vs_part, id), and dynamic partition pruning
    * reuses the shortlist broadcast to skip every directory holding no
    * survivor — at 100 TB the refine reads ~|shortlist parts|/parts of
    * the store instead of all of it. Write once at ingest, reuse across
    * every query (same contract as [[Layout.writeBucketed]]).
    */
  def writeVectorStore(corpus: DataFrame, idCol: String, vecCol: String,
                       path: String, parts: Int = 64): Unit = {
    Layout.writer(corpus.select(col(idCol), col(vecCol))
        .withColumn("vs_part", pmod(col(idCol), lit(parts)).cast("int")))
      .mode("overwrite").partitionBy("vs_part").parquet(path)
    // persist the layout config INSIDE the store: the re-rank derives
    // vs_part on the probe side with pmod(id, parts), so a caller pairing
    // the store with a different `parts` would silently match nothing.
    // Readers go through [[readVectorStore]], which returns the written
    // value; the `_`-prefixed subdir is invisible to the parquet file
    // listing, so the store itself reads clean.
    val spark = corpus.sparkSession
    import spark.implicits._
    Layout.writeRecord(Seq(parts).toDF("parts"), s"$path/_graft_layout")
  }

  /** The `parts` a [[writeVectorStore]] layout froze; None when `path`
    * carries no layout record, or one without `parts` (another store's). */
  private[graft] def vectorStorePartsAt(spark: SparkSession,
                                        path: String): Option[Int] =
    Layout.readRecord(spark, s"$path/_graft_layout", "parts INT")
      .filterNot(_.isNullAt(0)).map(_.getInt(0))

  private def requireVectorParts(spark: SparkSession, path: String): Int =
    vectorStorePartsAt(spark, path).getOrElse(throw new
        IllegalArgumentException(s"$path holds no vector-store layout " +
          s"record ($path/_graft_layout with parts)"))

  /** Open a [[writeVectorStore]] layout, returning the store frame AND
    * the `parts` it was written with (read from the persisted layout
    * config — never caller-supplied, so probe-side partition derivation
    * cannot drift from the physical layout). Fails loudly on a store
    * written without layout metadata.
    */
  def readVectorStore(spark: SparkSession, path: String): (DataFrame, Int) = {
    val parts = requireVectorParts(spark, path)
    (spark.read.parquet(path), parts)
  }

  /** Append a batch into an EXISTING [[writeVectorStore]] layout — the
    * exact-vector half of a codes-store append ([[ingestIvfStoreAt]] runs
    * it under the codes store's marker; every appended code must have its
    * exact vector reachable by the re-rank): `vs_part` derives from the
    * PERSISTED parts (never caller-supplied), so appended rows land
    * exactly where the probe-side pmod derivation will look for them.
    */
  private def appendVectorStore(batch: DataFrame, idCol: String,
                                vecCol: String, path: String): Unit = {
    val parts = requireVectorParts(batch.sparkSession, path)
    Layout.writer(batch.select(col(idCol), col(vecCol))
        .withColumn("vs_part", pmod(col(idCol), lit(parts)).cast("int")))
      .mode("append").partitionBy("vs_part").parquet(path)
  }

  /** Whether `path` holds a [[writeVectorStore]] layout (its persisted
    * parts config is the commit signal). */
  def vectorStoreExistsAt(spark: SparkSession, path: String): Boolean =
    Layout.exists(spark, s"$path/_graft_layout")

  /** Directory-share audit of ANY centroid-partitioned store (raw or
    * codes): per directory its row count and share in ppm, plus the
    * balanced share for comparison — ONE column-pruned aggregate over
    * the partition column, no vectors or codes read. This is the
    * operating dial the README's PQ growth posture names: a codes store
    * cannot split in place (codes carry no raw vectors), so when
    * `max(share) / balanced share` crosses ~3× the answer is a rebuild
    * from the rerank vector store — this audit is how that threshold is
    * watched in production. On raw two-level stores the same numbers say
    * when to run [[splitHotChildrenAt]].
    */
  def storeShareAudit(spark: SparkSession, path: String): DataFrame = {
    val counts = spark.read.parquet(path)
      .groupBy(col("centroid_id").cast("int").as("centroid_id"))
      .agg(count(lit(1)).as("n_rows"))
    // exact integer ppm (div, never float division) so the audit is
    // oracle-replayable bit-for-bit
    counts.crossJoin(broadcast(
        counts.agg(sum(col("n_rows")).as("__tot"),
          count(lit(1)).as("__dirs"))))
      .select(col("centroid_id"), col("n_rows"),
        expr("1000000 * n_rows div __tot").cast("bigint").as("share_ppm"),
        expr("1000000 div __dirs").cast("bigint").as("balanced_ppm"))
  }

  /** Right-to-erasure for the id-partitioned re-rank store: `vs_part` is
    * a PURE FUNCTION of the id (pmod(id, parts)), so the hit directories
    * derive from the tombstones directly — no sidecar needed, and the
    * compaction reads only ≤ |tombstones| of the `parts` directories.
    * Same staged pending-marker protocol as every store mutation;
    * tombstone ids cast to the store's id type first
    * ([[Layout.typedTombstones]] — here a wrongly-typed id would derive
    * the wrong directory).
    */
  def forgetVectorStoreAt(spark: SparkSession, path: String,
                          tombstones: DataFrame, idCol: String): Unit = {
    val (store, tomb) =
      Layout.typedTombstones(spark, path, path, tombstones, idCol)
    val parts = requireVectorParts(spark, path)
    val hit = tomb.select(pmod(col(idCol), lit(parts)).cast("int").as("p"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    if (hit.isEmpty) return
    Layout.withPendingMarkerStaged(spark, path)(
      Layout.planCompaction(spark, path, "vs_part", store, tomb, idCol, hit)
    )(_.foreach(Layout.execDirRewrite(spark, _)))
  }

  /** How many coarse centroids a corpus of `n` vectors should get:
    * C = √N clamped to [cMin, cMax]. The balance behind the square root
    * (measured in the round-10 ScaleProbe, README feeder table): per-row
    * ASSIGNMENT work grows ∝ C·d while per-row IN-CLUSTER candidate work
    * in [[ivfSelfTopK]] grows ∝ nprobe·N/C — total N·(C + N/C)-ish,
    * minimized at C ∝ √N. A FIXED codebook on a growing corpus makes
    * Σ|members|² grow ∝ N² (the measured 125 s cliff at 10×); √N sizing
    * holds it ∝ N^1.5. Past `cMax` the flat literal-array assignment
    * itself becomes the bottleneck — that is the hierarchical
    * coarse-quantizer regime, CODED in round 12: [[autoTwoLevelCodebook]]
    * / [[writeIvfStoreTwoLevelAuto]] continue the √N policy with per-row
    * assignment O(2√C·d) through the TwoLevelProbes kernel, lifting the
    * clamp to 65536 (√N sizing to ~4.3B vectors — README "two-level √N"
    * probe table). This flat sizing keeps its 4096 clamp because a flat
    * literal-array codebook past that IS the wall the probe measured.
    */
  def autoCodebookSize(n: Long, cMin: Int = 8, cMax: Int = 4096): Int =
    math.max(cMin, math.min(cMax.toLong,
      math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toLong).toInt)

  /** Auto-sized coarse codebook — the round-10 "codebook must grow with
    * the corpus" guidance turned into code. Three bounded steps:
    *
    *  1. SIZE: C = [[autoCodebookSize]](count) — √N, clamped.
    *  2. SEED: C deterministic candidates by a HASH-STRIDE over ids
    *     (keep rows where xxhash64(id) mod ⌊N/C⌋ = 0, first C by id),
    *     unit-normalized. Hash-striding — never "first C ids" — because
    *     sharded/replicated corpora hand any id-prefix to one shard and
    *     the codebook would never separate the rest.
    *  3. SPLIT: one assignment pass; every cluster holding more than
    *     `maxSharePct` of rows (the share audit the ScaleProbe prints)
    *     contributes its FARTHEST member (max L2 from its seed, ties by
    *     id) as an extra seed — the flagged hot spot is cut in two.
    *
    * Driver traffic is C-bounded throughout (seeds + flagged-cluster
    * extras); the corpus is scanned twice (count fused into scan 1 when
    * cached). Deterministic end to end: same corpus → same codebook.
    */
  def autoCoarseCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                         cMin: Int = 8, cMax: Int = 4096,
                         maxSharePct: Double = 5.0): Seq[Seq[Double]] = {
    import graft.functions.VectorFunctions.l2_squared
    val n = corpus.count()
    val c = autoCodebookSize(n, cMin, cMax)
    val unit = normalized(corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__u")), "__u")
    val stride = math.max(1L, n / math.max(c, 1))
    val strided = unit
      .filter(pmod(xxhash64(col("__id")), lit(stride)) === 0)
      .orderBy(col("__id")).limit(c)
      .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    // hash-stride yields ~C candidates in expectation; top up from the
    // id order if the draw came in short (tiny corpora)
    val seeds =
      if (strided.size >= math.min(c, n).toInt) strided
      else unit.orderBy(col("__id")).limit(c)
        .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    if (seeds.isEmpty) return seeds
    val assigned = assignCentroids(unit, "__u", seeds)
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("m")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // single-member clusters can't split (their farthest member IS the
    // seed, so appending it would leave two identical centroids and a
    // permanently empty partition) — skip them
    val flagged = counts.filter { case (_, m) =>
      m > 1 && 100.0 * m / math.max(n, 1L) > maxSharePct }.keys.toSeq.sorted
    if (flagged.isEmpty) seeds
    else {
      val spark = corpus.sparkSession
      import spark.implicits._
      val seedDf = flagged.map(cid => (cid, seeds(cid)))
        .toDF("centroid_id", "__seed")
      val w = Window.partitionBy(col("centroid_id"))
        .orderBy(desc("__d"), asc("__id"))
      val extra = assigned.filter(col("centroid_id").isInCollection(flagged))
        .join(broadcast(seedDf), Seq("centroid_id"))
        .withColumn("__d", l2_squared(col("__u"), col("__seed")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .orderBy(col("centroid_id"))
        .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      // a farthest member can still COINCIDE with an existing seed (e.g.
      // duplicate vectors in the corpus) — an identical extra centroid
      // would never win an assignment, so drop it rather than carry a
      // dead codebook entry
      val fresh = extra.filterNot(seeds.contains).distinct
      seeds ++ fresh
    }
  }

  /** [[writeIvfStore]] with the codebook auto-sized from the corpus
    * ([[autoCoarseCodebook]]); returns the frozen codebook — callers
    * probe with the SAME seeds the layout was written with, the
    * [[readVectorStore]] pairing discipline.
    */
  def writeIvfStoreAuto(corpus: DataFrame, idCol: String, vecCol: String,
                        path: String, cMin: Int = 8, cMax: Int = 4096,
                        maxSharePct: Double = 5.0,
                        metaCols: Seq[String] = Nil): Seq[Seq[Double]] = {
    val coarse = autoCoarseCodebook(corpus, idCol, vecCol, cMin, cMax,
      maxSharePct)
    writeIvfStore(corpus, idCol, vecCol, coarse, path, metaCols)
    coarse
  }

  /** A hierarchical (two-level) coarse codebook: `tops(t)` is the
    * top-level cell centroid, `children(t)` its fine centroids; the
    * GLOBAL centroid id of child k of top t is `base(t) + k` — the same
    * id space a flat codebook of `size` entries would use, so the
    * physical layout ([[writeIvfStoreTwoLevel]]) is indistinguishable
    * from a flat store on disk. This is the scale regime past the flat
    * clamp ([[autoCodebookSize]]'s cMax=4096): a flat C-entry codebook
    * costs O(C·d) per assigned row, so once C tracks √N past the clamp
    * the assignment pass itself goes super-linear; the two-level
    * decomposition (T≈√C tops, each owning ≈√C children) makes per-row
    * assignment O(2√C·d) — flat-per-row growth — while sumsq = Σ|m|²
    * keeps riding the N^1.5 track because C keeps tracking √N unclamped.
    */
  final case class TwoLevelCodebook(tops: Seq[Seq[Double]],
                                    children: Seq[Seq[Seq[Double]]],
                                    childIds: Seq[Seq[Int]] = Nil) {
    require(tops.size == children.size,
      s"one child list per top: ${tops.size} vs ${children.size}")
    require(childIds.isEmpty || (childIds.size == children.size &&
      childIds.zip(children).forall { case (g, k) => g.size == k.size }),
      "childIds, when given, must mirror the child-list shape")
    /** Contiguous base offsets — meaningful only for the DEFAULT id
      * layout (empty childIds); grown codebooks carry explicit ids. */
    val base: Seq[Int] = children.map(_.size).scanLeft(0)(_ + _).init
    /** The global id of child k of top t — base(t)+k by default, the
      * explicit assignment after [[splitHotChildrenAt]] growth (stable:
      * existing directories never get renamed by a split). */
    val gids: Seq[Seq[Int]] =
      if (childIds.nonEmpty) childIds
      else children.indices.map(t =>
        Seq.tabulate(children(t).size)(k => base(t) + k))
    def size: Int = children.map(_.size).sum
    /** First id past every allocated one — where growth allocates. */
    def nextGid: Int = gids.flatten.foldLeft(0)((a, g) => math.max(a, g + 1))
    /** All children in GLOBAL-ID order — the flat-codebook view, safe to
      * index by gid. For a default-id codebook this is children.flatten;
      * for a grown one (explicit childIds, fresh ids interleaved across
      * tops) the sort is what keeps position == gid. Positions of gids
      * that were never allocated (impossible today: default ids are
      * contiguous and growth allocates densely from nextGid) would shift
      * the mapping — hence the require. */
    def flat: Seq[Seq[Double]] = {
      val byGid = gids.flatten.zip(children.flatten).sortBy(_._1)
      require(byGid.map(_._1) == byGid.indices,
        s"flat view needs dense gids 0..${byGid.size - 1}: ${byGid.map(_._1)}")
      byGid.map(_._2)
    }
  }

  /** The two-level ASSIGNMENT column: nearest top, then nearest of that
    * top's children, as a GLOBAL child id — one codegen'd kernel pass
    * ([[graft.functions.TwoLevelProbes]] at nprobeTop=1, nprobe=1), no
    * join, no shuffle. Expects a unit-normalized vector column.
    */
  private def twoLevelAssignExpr(u: Column, cb: TwoLevelCodebook): Column =
    element_at(graft.functions.VectorFunctions.two_level_probes(
      u, cb.tops, cb.children, 1, 1, cb.childIds), 1)

  /** Auto-sized TWO-LEVEL coarse codebook — [[autoCoarseCodebook]]'s
    * C = √N policy continued past the flat clamp. Four bounded steps:
    *
    *  1. SIZE: C = [[autoCodebookSize]](count) with a far wider clamp
    *     (default cMax=65536 ⇒ √N sizing holds to ~4.3B vectors; past
    *     that the child collect below — C·d doubles — should itself go
    *     distributed). T = ⌈√C⌉ top cells, ⌈C/T⌉ children each.
    *  2. SEED TOPS: T candidates by the same hash-stride-over-ids rule
    *     as the flat path (shard/replica-robust), deduplicated so no
    *     top cell can be empty (every top is a corpus vector and
    *     re-assigns to itself once duplicates collapse).
    *  3. SEED CHILDREN: one top-assignment pass (the kernel with the
    *     top itself as its only child — O(T·d) per row); within each
    *     cell the first ⌈C/T⌉ members by (xxhash64(id), id) become its
    *     children — hash order, never id-prefix order, for the same
    *     sharding reason as step 2. Cells smaller than the quota
    *     contribute all their members.
    *  4. SPLIT: one two-level assignment pass; every CHILD cluster
    *     holding more than `maxSharePct` of rows (and more than one
    *     member) contributes its farthest member as an extra child of
    *     the same top — the share audit the ScaleProbe prints, applied
    *     at the level that owns the data.
    *
    * Driver traffic is C-bounded throughout; the corpus is scanned
    * twice after the count (child seeding, split audit). Deterministic:
    * same corpus → same codebook.
    */
  def autoTwoLevelCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                           cMin: Int = 8, cMax: Int = 65536,
                           maxSharePct: Double = 5.0): TwoLevelCodebook = {
    import graft.functions.VectorFunctions.l2_squared
    val n = corpus.count()
    val c = autoCodebookSize(n, cMin, cMax)
    val tTarget = math.ceil(math.sqrt(c.toDouble)).toInt
    val kidsPerTop = math.max(1, math.ceil(c.toDouble / tTarget).toInt)
    val unit = normalized(corpus.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__u")), "__u")
    val stride = math.max(1L, n / math.max(tTarget, 1))
    val strided = unit
      .filter(pmod(xxhash64(col("__id")), lit(stride)) === 0)
      .orderBy(col("__id")).limit(tTarget)
      .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val seeded =
      if (strided.size >= math.min(tTarget.toLong, n).toInt) strided
      else unit.orderBy(col("__id")).limit(tTarget)
        .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val tops = seeded.distinct
    if (tops.isEmpty) return TwoLevelCodebook(Nil, Nil)
    // step 3: top assignment (each top owning itself as the only child ⇒
    // the kernel IS the flat argmin over tops), then per-cell hash-order
    // child quota — the collect is ≤ C rows by construction
    val topAssigned = unit.withColumn("__top",
      element_at(graft.functions.VectorFunctions.two_level_probes(
        col("__u"), tops, tops.map(Seq(_)), 1, 1), 1))
    val wKid = Window.partitionBy(col("__top"))
      .orderBy(xxhash64(col("__id")), col("__id"))
    val kidRows = topAssigned.withColumn("__rn", row_number().over(wKid))
      .filter(col("__rn") <= kidsPerTop)
      .select(col("__top"), col("__rn"), col("__u"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
    val byTop = kidRows.groupBy(_._1)
    val children0 = tops.indices.map(t =>
      byTop.getOrElse(t, Array.empty[(Int, Int, Seq[Double])])
        .sortBy(_._2).map(_._3).distinct.toSeq)
    val cb0 = TwoLevelCodebook(tops, children0)
    // step 4: child-level share audit + split (the autoCoarseCodebook
    // round, one level down)
    val assigned = unit.withColumn("centroid_id",
      twoLevelAssignExpr(col("__u"), cb0))
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("m")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val flagged = counts.filter { case (_, m) =>
      m > 1 && 100.0 * m / math.max(n, 1L) > maxSharePct }.keys.toSeq.sorted
    if (flagged.isEmpty) cb0
    else {
      val spark = corpus.sparkSession
      import spark.implicits._
      val gidToSeed = flagged.map { gid =>
        val t = cb0.base.lastIndexWhere(_ <= gid)
        (gid, t, cb0.children(t)(gid - cb0.base(t)))
      }
      val seedDf = gidToSeed.map { case (g, _, s) => (g, s) }
        .toDF("centroid_id", "__seed")
      val w = Window.partitionBy(col("centroid_id"))
        .orderBy(desc("__d"), asc("__id"))
      val extra = assigned.filter(col("centroid_id").isInCollection(flagged))
        .join(broadcast(seedDf), Seq("centroid_id"))
        .withColumn("__d", l2_squared(col("__u"), col("__seed")))
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .orderBy(col("centroid_id"))
        .select(col("centroid_id"), col("__u")).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      // append each split vector to ITS top's child list, skipping any
      // that would duplicate an existing child of that top
      val extrasByTop = extra.map { case (gid, v) =>
        (cb0.base.lastIndexWhere(_ <= gid), v)
      }.groupBy(_._1)
      val children = tops.indices.map { t =>
        val cur = children0(t)
        cur ++ extrasByTop.getOrElse(t, Array.empty[(Int, Seq[Double])])
          .map(_._2).filterNot(cur.contains).distinct
      }
      TwoLevelCodebook(tops, children)
    }
  }

  /** Physical IVF layout under a TWO-LEVEL codebook: identical directory
    * shape to [[writeIvfStore]] (`centroid_id=` partitions keyed by the
    * GLOBAL child id), only the assignment differs — one codegen'd
    * two-level kernel pass instead of C literal distance expressions, so
    * ingest cost per row is O(2√C·d) however large C grows.
    */
  def writeIvfStoreTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                            cb: TwoLevelCodebook, path: String,
                            metaCols: Seq[String] = Nil): Unit = {
    Layout.writer(twoLevelAssigned(corpus, idCol, vecCol, cb, metaCols))
      .mode("overwrite").partitionBy("centroid_id").parquet(path)
    writeIdSidecarAt(corpus.sparkSession, path, idCol)
  }

  private def twoLevelAssigned(corpus: DataFrame, idCol: String,
                               vecCol: String, cb: TwoLevelCodebook,
                               metaCols: Seq[String] = Nil): DataFrame = {
    val unit = normalized(
      corpus.select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
        col(vecCol).cast("array<double>").as("__u")): _*), "__u")
    unit.withColumn("centroid_id", twoLevelAssignExpr(col("__u"), cb))
      .select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
        col("centroid_id")): _*)
  }

  /** [[writeIvfStoreTwoLevel]] with the codebook auto-sized
    * ([[autoTwoLevelCodebook]]) — the `writeIvfStoreAuto` spelling for
    * the past-the-clamp regime; returns the frozen codebook for the
    * probe side (the [[readVectorStore]] pairing discipline).
    */
  def writeIvfStoreTwoLevelAuto(corpus: DataFrame, idCol: String,
                                vecCol: String, path: String,
                                cMin: Int = 8, cMax: Int = 65536,
                                maxSharePct: Double = 5.0,
                                metaCols: Seq[String] = Nil): TwoLevelCodebook = {
    val cb = autoTwoLevelCodebook(corpus, idCol, vecCol, cMin, cMax,
      maxSharePct)
    writeIvfStoreTwoLevel(corpus, idCol, vecCol, cb, path, metaCols)
    cb
  }

  /** Persist a FLAT coarse codebook INSIDE its store — the frozen-
    * codebook pairing discipline ([[writeIvfStoreAuto]] "callers probe
    * with the SAME seeds") made durable: without this, re-attaching a
    * store from another session/run means re-deriving the codebook from
    * the corpus (a full re-scan at 100 TB, and any derivation drift
    * silently mis-homes every directory). One C·d-sized parquet at
    * `_graft_codebook` (underscore-prefixed like `_graft_layout`, so the
    * store's own parquet listing never sees it); doubles round-trip
    * bit-exact through parquet's IEEE-754 DOUBLE, so a reloaded codebook
    * assigns IDENTICALLY (pinned in spec). Written LAST by
    * [[ingestIvfStoreAt]], so its _SUCCESS marker doubles as the store's
    * commit signal — a crash between vector write and codebook write
    * leaves no marker and the next build's static-overwrite rewrites the
    * store clean.
    */
  def writeCodebookAt(spark: SparkSession, path: String,
                      coarse: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    // codebook replacement rides temp-write + rename: its _SUCCESS is the
    // store's commit signal, so a crash inside a plain overwrite (on a
    // grow round's re-persist) would flip the next ingest onto the build
    // branch and static-overwrite away the store
    Layout.replaceDir(
      coarse.zipWithIndex.map { case (v, k) => ("flat", 0, k, k, v) }
        .toDF("kind", "t", "k", "gid", "vec").coalesce(1),
      s"$path/_graft_codebook")
  }

  /** [[writeCodebookAt]] for a TWO-LEVEL codebook: tops persist as
    * (t, k = -1), children as (t, k, gid) — gids ALWAYS explicit so a
    * [[splitHotChildrenAt]]-grown codebook (whose ids are no longer
    * contiguous per top) round-trips exactly.
    */
  def writeCodebookAt(spark: SparkSession, path: String,
                      cb: TwoLevelCodebook): Unit = {
    import spark.implicits._
    val tops = cb.tops.zipWithIndex.map { case (v, t) =>
      ("two_level", t, -1, -1, v)
    }
    val kids = cb.children.indices.flatMap { t =>
      cb.children(t).indices.map(k =>
        ("two_level", t, k, cb.gids(t)(k), cb.children(t)(k)))
    }
    Layout.replaceDir(
      (tops ++ kids).toDF("kind", "t", "k", "gid", "vec").coalesce(1),
      s"$path/_graft_codebook")
  }

  /** Which geometry a store persists ("flat" | "two_level" | "pq" |
    * "two_level_pq") — so generic consumers (the semdedup-gate processor,
    * the ann-search source) can dispatch to the matching reader and probe
    * kernel without being configured redundantly. Two-level-routed codes
    * stores are checked FIRST off their `_graft_pq2` commit signal: they
    * deliberately carry no `_graft_codebook` (see [[writePq2CodebooksAt]]),
    * so reading it would throw.
    */
  def codebookKindAt(spark: SparkSession, path: String): String = {
    if (Layout.exists(spark, s"$path/_graft_pq2/subs/_graft_codebook"))
      return "two_level_pq"
    val kinds = Layout.readTable(spark, s"$path/_graft_codebook")
      .select(col("kind")).distinct().collect().map(_.getString(0))
    require(kinds.length == 1, s"ambiguous codebook kinds: ${kinds.toSeq}")
    kinds.head
  }

  /** The persisted store's own id column name, read from the
    * `_graft_ids` erasure sidecar's schema (the column that is not
    * home/ibucket) — the store side alone can't decide it once
    * meta_columns ride along (a non-array metadata column is
    * indistinguishable from the id there). None on pre-sidecar stores.
    * Lets query-side consumers (ann-search, hybrid-search, fsck)
    * default the key from the store instead of requiring the recipe to
    * re-spell what the layout already knows.
    */
  def storeIdColumnAt(spark: SparkSession, path: String): Option[String] = {
    if (Layout.exists(spark, s"$path/_graft_ids"))
      Layout.readTable(spark, s"$path/_graft_ids").columns
        .filterNot(Set("home", "ibucket")).headOption
    else None
  }

  private def codebookRowsAt(spark: SparkSession,
      path: String): Array[org.apache.spark.sql.Row] = {
    val rows = Layout.readTable(spark, s"$path/_graft_codebook")
      .select(col("kind"), col("t"), col("k"), col("gid"), col("vec"))
      .collect()
    require(rows.nonEmpty, s"$path/_graft_codebook is empty")
    rows
  }

  private def parseCoarse(rows: Array[org.apache.spark.sql.Row],
                          path: String): Seq[Seq[Double]] = {
    require(rows.forall(_.getString(0) == "flat"),
      s"$path/_graft_codebook is not a flat codebook")
    rows.sortBy(_.getInt(2)).map(_.getSeq[Double](4).toSeq).toSeq
  }

  private def parseTwoLevel(rows: Array[org.apache.spark.sql.Row],
                            path: String): TwoLevelCodebook = {
    require(rows.forall(_.getString(0) == "two_level"),
      s"$path/_graft_codebook is not a two-level codebook")
    val tops = rows.filter(_.getInt(2) == -1).sortBy(_.getInt(1))
      .map(_.getSeq[Double](4).toSeq).toSeq
    val kidRows = rows.filter(_.getInt(2) >= 0)
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Double](4).toSeq))
    val byTop = kidRows.groupBy(_._1)
    val children = tops.indices.map(t =>
      byTop.getOrElse(t, Array.empty[(Int, Int, Int, Seq[Double])])
        .sortBy(_._2).map(_._4).toSeq)
    val childIds = tops.indices.map(t =>
      byTop.getOrElse(t, Array.empty[(Int, Int, Int, Seq[Double])])
        .sortBy(_._2).map(_._3).toSeq)
    TwoLevelCodebook(tops, children, childIds)
  }

  /** Reload a [[writeCodebookAt]] FLAT codebook. Fails loudly on a
    * two-level file — the two layouts share directory shape but not
    * assignment kernels, so a kind mismatch must never probe silently.
    */
  def readCoarseCodebookAt(spark: SparkSession,
                           path: String): Seq[Seq[Double]] =
    parseCoarse(codebookRowsAt(spark, path), path)

  /** Reload a [[writeCodebookAt]] TWO-LEVEL codebook (explicit gids —
    * grown codebooks reload with their stable id assignment). */
  def readTwoLevelCodebookAt(spark: SparkSession,
                             path: String): TwoLevelCodebook =
    parseTwoLevel(codebookRowsAt(spark, path), path)

  /** ONE-read reload for consumers that dispatch on the stored kind (the
    * semdedup-gate): returns Left(coarse) for a flat codebook,
    * Right(twoLevel) for a hierarchical one; throws on "pq" (a codes
    * store has no directly-probeable geometry — decode needs the
    * subquantizers, which is [[readPqCodebooksAt]]'s contract).
    */
  def readAnyCodebookAt(spark: SparkSession, path: String)
      : Either[Seq[Seq[Double]], TwoLevelCodebook] = {
    val rows = codebookRowsAt(spark, path)
    rows.head.getString(0) match {
      case "flat" => Left(parseCoarse(rows, path))
      case "two_level" => Right(parseTwoLevel(rows, path))
      case other => throw new IllegalArgumentException(
        s"$path/_graft_codebook holds a '$other' codebook, which has no " +
          "directly-probeable geometry")
    }
  }

  /** [[writeCodebookAt]] for a PQ layout's TWO frozen geometries — the
    * coarse router (rows t = -1) and the m subquantizer codebooks (rows
    * t = subspace index): an IVF-PQ store is unreadable without both
    * (codes are indexes INTO the subquantizer centroids), so re-attach
    * must reload exactly what encoded the codes — any drift decodes
    * every stored code against the wrong centroid table.
    */
  def writePqCodebooksAt(spark: SparkSession, path: String,
                         coarse: Seq[Seq[Double]],
                         codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    import spark.implicits._
    val c = coarse.zipWithIndex.map { case (v, k) => ("pq", -1, k, -1, v) }
    val q = codebooks.indices.flatMap { m =>
      codebooks(m).indices.map(j => ("pq", m, j, -1, codebooks(m)(j)))
    }
    Layout.replaceDir(
      (c ++ q).toDF("kind", "t", "k", "gid", "vec").coalesce(1),
      s"$path/_graft_codebook")
  }

  /** Reload a [[writePqCodebooksAt]] pair: (coarse, subquantizers). */
  def readPqCodebooksAt(spark: SparkSession,
                        path: String): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val rows = Layout.readTable(spark, s"$path/_graft_codebook")
      .select(col("kind"), col("t"), col("k"), col("vec")).collect()
    require(rows.nonEmpty && rows.forall(_.getString(0) == "pq"),
      s"$path/_graft_codebook is not a PQ codebook pair")
    val coarse = rows.filter(_.getInt(1) == -1).sortBy(_.getInt(2))
      .map(_.getSeq[Double](3).toSeq).toSeq
    val sub = rows.filter(_.getInt(1) >= 0)
      .map(r => (r.getInt(1), r.getInt(2), r.getSeq[Double](3).toSeq))
      .groupBy(_._1)
    val codebooks = (0 until sub.size).map(m =>
      sub(m).sortBy(_._2).map(_._3).toSeq)
    (coarse, codebooks)
  }

  /** Persist a two-level-IVF-PQ store's TWO frozen geometries inside the
    * layout — the router hierarchy under `_graft_pq2/router` (the
    * [[writeCodebookAt]] two-level format) and the m subquantizer
    * codebooks under `_graft_pq2/subs` (the [[writePqCodebooksAt]]
    * format with an empty coarse slot): codes are indexes INTO the
    * subquantizer centroids and directories are named BY the router's
    * global child ids, so re-attach must reload exactly what encoded
    * the store. Deliberately NOT at `$path/_graft_codebook`:
    * [[ingestIvfStoreAt]] dispatches on that file, and a pq2 codes store
    * must never look appendable-as-vectors to it.
    */
  def writePq2CodebooksAt(spark: SparkSession, path: String,
                          cb: TwoLevelCodebook,
                          codebooks: Seq[Seq[Seq[Double]]]): Unit = {
    writeCodebookAt(spark, s"$path/_graft_pq2/router", cb)
    writePqCodebooksAt(spark, s"$path/_graft_pq2/subs", Seq.empty, codebooks)
  }

  /** Reload a [[writePq2CodebooksAt]] pair: (router, subquantizers). */
  def readPq2CodebooksAt(spark: SparkSession, path: String)
      : (TwoLevelCodebook, Seq[Seq[Seq[Double]]]) =
    (readTwoLevelCodebookAt(spark, s"$path/_graft_pq2/router"),
      readPqCodebooksAt(spark, s"$path/_graft_pq2/subs")._2)

  /** Persist a codes store's RERANK LINKAGE inside its `_graft_pq2`
    * metadata at build time — the store itself records whether an
    * exact-vector sidecar ([[writeVectorStore]]) pairs with it, and
    * where. Written even when NO sidecar exists (an explicit
    * empty-string row), so every mutation can tell "this store has no
    * rerank sidecar" from "this store predates the linkage protocol":
    * without the record, a `mode: forget` that omits the key would
    * silently leave every erased doc's full-precision vector fetchable
    * by any future re-rank — erasure that is no erasure. The `_graft_
    * index_config` discipline applied to the erasure cascade.
    *
    * A sidecar under the codes store's parent directory is recorded
    * RELATIVE to the store (`../<rest>`), so a store pair copied or
    * restored together to another root keeps its pairing; any other
    * sidecar is recorded as given.
    */
  def writeRerankLinkAt(spark: SparkSession, path: String,
                        rerank: Option[String]): Unit = {
    import spark.implicits._
    val record = rerank.fold("") { rp =>
      val parent = qualified(spark, path).getParent
      val under = Option(parent).map(_.toString.stripSuffix("/") + "/")
      val side = qualified(spark, rp).toString
      under.filter(side.startsWith)
        .fold(rp)(u => RelativeLink + side.stripPrefix(u))
    }
    Layout.writeRecord(Seq(record).toDF("rerank_path"),
      s"$path/_graft_pq2/rerank")
  }

  /** Prefix of a rerank record kept relative to its codes store; older
    * stores hold absolute records, which read unchanged. */
  private val RelativeLink = "../"

  private def qualified(spark: SparkSession,
                        p: String): org.apache.hadoop.fs.Path = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(path)
  }

  /** Read a codes store's recorded rerank linkage:
    *  - `None`           — the store PREDATES the linkage protocol (no
    *                       record; callers fall back to their explicit
    *                       config key, documented-weaker)
    *  - `Some(None)`     — the store records that NO rerank sidecar
    *                       exists
    *  - `Some(Some(p))`  — the store's exact vectors live at `p`
    */
  def rerankLinkAt(spark: SparkSession,
                   path: String): Option[Option[String]] =
    Layout.readRecord(spark, s"$path/_graft_pq2/rerank", "rerank_path STRING")
      .map(r => Some(r.getString(0)).filter(_.nonEmpty).map { rec =>
        if (!rec.startsWith(RelativeLink)) rec
        else {
          // resolved against the store path as the caller spells it
          val store = path.stripSuffix("/")
          store.substring(0, store.lastIndexOf('/') + 1) +
            rec.stripPrefix(RelativeLink)
        }
      })

  /** Resolve the EFFECTIVE rerank store for a codes-store operation from
    * the persisted linkage and the caller's explicit key, refusing every
    * silent-divergence combination: an explicit key that contradicts the
    * record (either a different path, or a key on a store recorded
    * sidecar-less) corrupts the pairing; a recorded sidecar that is
    * unreachable must stop an erasure rather than let it "succeed" with
    * the raw vectors still fetchable. Legacy stores (no record) pass the
    * explicit key through once it names a readable vector store — their
    * weaker contract is the caller's documented fallback.
    */
  def resolveRerankLink(spark: SparkSession, path: String,
                        explicit: Option[String]): Option[String] =
    rerankLinkAt(spark, path) match {
      case Some(Some(linked)) =>
        explicit.filter(rp =>
            qualified(spark, rp) != qualified(spark, linked)).foreach { rp =>
          throw new IllegalArgumentException(
            s"$path records its exact-vector rerank sidecar at $linked " +
              s"but this operation names $rp — a divergent pairing would " +
              "re-rank (or erase) the wrong vectors. Drop the key (the " +
              "store's own record wins) or fix it to match.")
        }
        require(vectorStoreExistsAt(spark, linked),
          s"$path records its exact-vector rerank sidecar at $linked, " +
            "which is not a readable vector store — refusing to proceed " +
            "(an erasure that skips the sidecar leaves every erased " +
            "doc's full-precision vector fetchable; a query would " +
            "silently drop its re-rank). Restore the sidecar or rebuild " +
            "the index.")
        Some(linked)
      case Some(None) =>
        explicit.foreach { rp =>
          throw new IllegalArgumentException(
            s"$path records that NO rerank sidecar exists, but this " +
              s"operation names $rp — a sidecar bolted on after history " +
              "landed would silently miss every historical vector. " +
              "Rebuild the index with rerank_store_path set from the " +
              "first batch.")
        }
        None
      // a legacy store's sidecar must exist from its first batch: one
      // started mid-stream silently misses every historical vector
      case None =>
        explicit.foreach(rp => require(vectorStoreExistsAt(spark, rp),
          s"$rp is not an initialized vector store but $path predates the " +
            "linkage record — a rerank store started after history landed " +
            "silently misses the historical vectors. Rebuild the index " +
            "with rerank_store_path set from the first batch."))
        explicit
    }

  /** How a batch enters a centroid-partitioned vector store — the one
    * ingest behind the `ivf-index` sink. A marked store refuses first (a
    * crashed mutation may have destroyed the commit signal the dispatch
    * keys on). The raw and PQ layouts carry DISJOINT commit signals, so a
    * batch whose `quantize` contradicts an existing store refuses instead
    * of static-overwriting its history. A raw append takes its meta
    * columns from the store's own schema, refusing a contradicting set.
    * No commit signal BUILDS with an auto-sized codebook written last as
    * the commit signal: raw two-level or flat, or (`quantize = Some((m,
    * k))`) PQ codes routed by the two-level hierarchy, writing the exact
    * vectors to `rerankStorePath` and recording the linkage. An existing
    * store APPENDS under ONE staged marker: the prepare phase reads the
    * codebook, resolves the rerank link ([[resolveRerankLink]]) and
    * materializes the assignment; the mutate phase appends exact vectors
    * BEFORE codes (orphan vectors are harmless, codes without vectors
    * vanish at re-rank), adopts the link onto a pre-record store, and
    * with `grow` runs one [[splitHotChildrenAt]] round. An empty batch is
    * a no-op. Returns the row count; single writer, disjoint ids.
    */
  def ingestIvfStoreAt(spark: SparkSession, path: String, vectors: DataFrame,
                       idCol: String, vecCol: String,
                       twoLevel: Boolean = true, maxSharePct: Double = 5.0,
                       grow: Boolean = false, metaCols: Seq[String] = Nil,
                       quantize: Option[(Int, Int)] = None,
                       rerankStorePath: Option[String] = None): Long = {
    require(!(grow && !twoLevel),
      "ivf-index: grow: true requires two_level: true")
    require(quantize.isEmpty || metaCols.isEmpty,
      "ivf-index: meta_columns pairs with raw-vector stores only (PQ " +
        "codes rows carry no filterable attributes)")
    Layout.refuseIfPending(spark, path)
    val rawExists = Layout.indexExists(spark, s"$path/_graft_codebook")
    val pq2Exists =
      Layout.indexExists(spark, s"$path/_graft_pq2/subs/_graft_codebook")
    val meta =
      if (!rawExists) metaCols
      else {
        val stored = storeMetaCols(spark, path, idCol, vecCol)
        require(metaCols.isEmpty || metaCols.toSet == stored.toSet,
          s"$path carries metadata columns [${stored.mkString(",")}] but " +
            s"this batch is configured [${metaCols.mkString(",")}] — " +
            "ragged appends silently break filtered search. Align " +
            "meta_columns with the store or drop the key (appends adopt " +
            "the store's own set).")
        stored
      }
    if (quantize.isDefined)
      require(!rawExists,
        s"$path holds a RAW vector store — a quantize: pq batch cannot " +
          "merge into it (codes and vectors are different layouts). " +
          "Drop quantize or point the recipe at a fresh index_path.")
    else
      require(!pq2Exists,
        s"$path holds a PQ-CODES store — a raw-vector batch cannot merge " +
          "into it. Set quantize: pq (matching the store) or point the " +
          "recipe at a fresh index_path.")
    // one materialization serves the count, sizing and assignment
    val batch = vectors.select((Seq(idCol, vecCol) ++ meta).map(col): _*)
      .localCheckpoint()
    val n = batch.count()
    if (n == 0) return 0L
    quantize match {
      case Some((m, k)) if !pq2Exists =>
        val sample = normalized(batch.select(col(idCol),
            col(vecCol).cast("array<double>").as("__u")), "__u")
          .orderBy(xxhash64(col(idCol)), col(idCol))
          .limit(4096).select(col("__u"))
          .collect().map(_.getSeq[Double](0).toSeq).toSeq
        val codebooks = pqTrain(sample, m, k)
        val cb = autoTwoLevelCodebook(batch, idCol, vecCol,
          maxSharePct = maxSharePct)
        // vectors BEFORE codes, linkage record BEFORE the commit signal:
        // a committed store always knows whether a sidecar pairs with it
        rerankStorePath.foreach(writeVectorStore(batch, idCol, vecCol, _))
        writePqStoreTwoLevel(batch, idCol, vecCol, cb, codebooks, path)
        writeRerankLinkAt(spark, path, rerankStorePath)
        writePq2CodebooksAt(spark, path, cb, codebooks)
      case Some(_) =>
        Layout.withPendingMarkerStaged(spark, path)({
          val (cb, codebooks) = readPq2CodebooksAt(spark, path)
          val link = rerankLinkAt(spark, path)
          val rerank = resolveRerankLink(spark, path, rerankStorePath)
          (link, rerank, prepareAppend(
            pqEncodedTwoLevel(batch, idCol, vecCol, cb, codebooks), path))
        }) { case (link, rerank, codes) =>
          rerank.foreach(appendVectorStore(batch, idCol, vecCol, _))
          writeAppend(codes, idCol, path)
          // POSITIVE knowledge only: an append omitting the key must not
          // freeze "no sidecar" onto a store that may have one
          if (link.isEmpty && rerankStorePath.isDefined)
            writeRerankLinkAt(spark, path, rerankStorePath)
        }
      case None if !rawExists =>
        if (twoLevel)
          writeCodebookAt(spark, path, writeIvfStoreTwoLevelAuto(batch,
            idCol, vecCol, path, maxSharePct = maxSharePct, metaCols = meta))
        else
          writeCodebookAt(spark, path, writeIvfStoreAuto(batch, idCol,
            vecCol, path, maxSharePct = maxSharePct, metaCols = meta))
      case None if twoLevel =>
        Layout.withPendingMarkerStaged(spark, path)({
          val cb = readTwoLevelCodebookAt(spark, path)
          (cb, prepareAppend(
            twoLevelAssigned(batch, idCol, vecCol, cb, meta), path))
        }) { case (cb, rows) =>
          writeAppend(rows, idCol, path)
          if (grow)
            planSplit(spark, path, idCol, vecCol, cb, maxSharePct)
              .foreach(execSplit(spark, path, idCol, _, Some(path)))
        }
      case None =>
        Layout.withPendingMarkerStaged(spark, path)(prepareAppend(
          ivfAssigned(batch, idCol, vecCol, readCoarseCodebookAt(spark, path),
            meta), path))(writeAppend(_, idCol, path))
    }
    n
  }

  /** [[appendIvfStore]] for a two-level layout — steady-state ingest:
    * arrivals are kernel-assigned against the SAME frozen codebook the
    * store was written with (O(2√C·d) per row however large C grew) and
    * appended to their global-child-id directories; assignment depends
    * only on the frozen codebook, so any micro-batching of an ingest
    * stream produces identical stored rows (parity pinned like the flat
    * path's).
    */
  def appendIvfStoreTwoLevel(batch: DataFrame, idCol: String, vecCol: String,
                             cb: TwoLevelCodebook, path: String,
                             metaCols: Seq[String] = Nil): Unit =
    fencedAppend(twoLevelAssigned(batch, idCol, vecCol, cb, metaCols),
      idCol, path)

  /** GROW a two-level layout in place — the missing half of "the
    * codebook must grow with the corpus" once appends have fattened some
    * child clusters: every child holding more than `maxSharePct` of the
    * store's rows (and more than one member) is SPLIT — its farthest
    * member (max L2 from the child seed, ties by id) becomes a new child
    * of the same top, allocated a FRESH global id past every existing
    * one ([[TwoLevelCodebook.nextGid]]) so no existing directory is ever
    * renamed — and ONLY the affected TOPS' directories are re-assigned
    * and rewritten (adding a child to top t can re-home any row of t,
    * but no row of any other top: top assignment doesn't change).
    * Rewrite cost is therefore Σ|affected tops' rows| ≈
    * |flagged children| · C-fraction of the store, never a full
    * re-layout; directories a re-assignment fully empties are removed
    * (the [[forgetIvfStoreAt]] overwrite-protocol hole, closed the same
    * way). Returns the grown codebook — callers probe with it from then
    * on (the frozen-codebook pairing discipline; the OLD codebook still
    * answers queries correctly for rows it can reach, but only the
    * grown one sees the new directories). Grown-store ≡
    * rebuild-with-grown-codebook is pinned in spec; idempotent once no
    * child exceeds the share bar. Runs under the store's staged pending
    * marker: the audit, the split choice and the re-assignment prepare
    * (checkpointed), then only writes run. Single-writer like every store
    * maintenance path.
    */
  def splitHotChildrenAt(spark: SparkSession, path: String, idCol: String,
                         vecCol: String, cb: TwoLevelCodebook,
                         maxSharePct: Double = 5.0,
                         persistTo: Option[String] = None): TwoLevelCodebook =
    Layout.withPendingMarkerStaged(spark, path)(
      planSplit(spark, path, idCol, vecCol, cb, maxSharePct)) { plan =>
      plan.foreach(execSplit(spark, path, idCol, _, persistTo))
      plan.fold(cb)(_.grown)
    }

  /** A prepared [[splitHotChildrenAt]] round: the grown codebook and, when
    * some top gained a child, the re-assigned rows of the affected tops
    * (materialized), their old directories and the directories they land
    * in. */
  private final case class SplitPlan(grown: TwoLevelCodebook,
                                     reassigned: Option[DataFrame],
                                     oldGids: Seq[Int], keptDirs: Set[Int])

  /** The PREPARE phase of a split round: every read, audit and
    * re-assignment; None when no child exceeds the share bar. */
  private def planSplit(spark: SparkSession, path: String, idCol: String,
                        vecCol: String, cb: TwoLevelCodebook,
                        maxSharePct: Double): Option[SplitPlan] = {
    import graft.functions.VectorFunctions.l2_squared
    val store = spark.read.parquet(path)
    val n = store.count()
    val counts = store.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("m")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gidToTk = cb.gids.zipWithIndex.flatMap { case (g, t) =>
      g.zipWithIndex.map { case (gid, k) => gid -> (t, k) } }.toMap
    val flagged = counts.filter { case (gid, m) =>
      m > 1 && 100.0 * m / math.max(n, 1L) > maxSharePct &&
        gidToTk.contains(gid) }.keys.toSeq.sorted
    if (flagged.isEmpty) return None
    // farthest member per flagged child (unit-vector distance to the
    // child seed — the autoCoarseCodebook split rule, one level down)
    import spark.implicits._
    val seedDf = flagged.map { gid =>
      val (t, k) = gidToTk(gid); (gid, cb.children(t)(k)) }
      .toDF("centroid_id", "__seed")
    val unitHit = normalized(
      store.filter(col("centroid_id").isInCollection(flagged))
        .select(col(idCol).as("__id"), col("centroid_id"),
          col(vecCol).cast("array<double>").as("__u")), "__u")
    val w = Window.partitionBy(col("centroid_id"))
      .orderBy(desc("__d"), asc("__id"))
    val extras = unitHit
      .join(broadcast(seedDf), Seq("centroid_id"))
      .withColumn("__d", l2_squared(col("__u"), col("__seed")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .orderBy(col("centroid_id"))
      .select(col("centroid_id"), col("__u")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
    // grown codebook: fresh ids allocated in flagged order, split
    // vectors deduped against their top's existing children
    var next = cb.nextGid
    val byTop = extras.flatMap { case (gid, v) =>
      val (t, _) = gidToTk(gid)
      if (cb.children(t).contains(v)) None else Some(t -> v)
    }.groupBy(_._1)
    val grownChildren = cb.children.indices.map { t =>
      cb.children(t) ++ byTop.getOrElse(t, Array.empty[(Int, Seq[Double])])
        .map(_._2).distinct }
    val grownIds = cb.children.indices.map { t =>
      val added = grownChildren(t).size - cb.children(t).size
      val fresh = (0 until added).map { i => next + i }
      next += added
      cb.gids(t) ++ fresh
    }
    val grown = TwoLevelCodebook(cb.tops, grownChildren, grownIds)
    // re-assign ONLY the affected tops' rows under the grown codebook;
    // every other top's assignment is untouched by definition
    val affectedTops = byTop.keys.toSeq.sorted
    if (affectedTops.isEmpty)
      return Some(SplitPlan(grown, None, Nil, Set.empty))
    val oldGids = affectedTops.flatMap(t => cb.gids(t))
    val rows = store.filter(col("centroid_id").isInCollection(oldGids))
      .drop("centroid_id")
    val unit = normalized(rows.withColumn("__u",
      col(vecCol).cast("array<double>")), "__u")
    val reassigned = unit
      .withColumn("centroid_id", twoLevelAssignExpr(col("__u"), grown))
      .drop("__u").localCheckpoint()
    val keptDirs = reassigned.select(col("centroid_id").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSet
    Some(SplitPlan(grown, Some(reassigned), oldGids, keptDirs))
  }

  /** The MUTATE phase of a split round: writes only. */
  private def execSplit(spark: SparkSession, path: String, idCol: String,
                        plan: SplitPlan, persistTo: Option[String]): Unit = {
    // persist the grown codebook BEFORE any directory rewrite: splits
    // only ADD children (old centroids stay valid probes), so a crash
    // after this write but before the rewrite leaves every row still
    // reachable under the persisted codebook — rows just sit un-re-homed
    // in their old directories until the next grow round re-audits. The
    // reverse order (rewrite first) has an unrecoverable window: rows
    // moved to fresh-gid directories that no persisted codebook names
    // are invisible to every later reader.
    persistTo.foreach(p => writeCodebookAt(spark, p, plan.grown))
    plan.reassigned.foreach { reassigned =>
      // erasure-sidecar maintenance, crash-ordered for safety-by-
      // superset: APPEND the re-homed rows' new (id, home) entries
      // BEFORE the directory rewrite. A forget treats the sidecar as a
      // hint SET (it rewrites every directory any of an id's rows name),
      // so duplicate entries only cost an extra directory probe — while
      // a missing entry is a silent erasure miss. Whichever side of the
      // rewrite a crash lands on, every row's REAL directory is listed:
      // before ⇒ {old, new} covers the not-yet-moved row; after ⇒ it
      // covers the moved one.
      val sidecar = sidecarExists(spark, path)
      if (sidecar)
        appendIdSidecar(reassigned, idCol, path)
      Layout.writer(reassigned).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id").parquet(path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      plan.oldGids.filterNot(plan.keptDirs).foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"centroid_id=$g"), true)
      }
      // tidy pass once the rewrite is down: collapse each re-homed id
      // back to its single (id, new home) row via temp + rename — a
      // crash here merely leaves the safe superset in place
      if (sidecar) {
        val remap = reassigned
          .select(col(idCol), col("centroid_id").cast("int").as("__new"))
        val sc = Layout.readTable(spark, s"$path/_graft_ids")
        val updated = sc.join(remap, Seq(idCol), "left_outer")
          .select(col(idCol),
            coalesce(col("__new"), col("home")).as("home"), col("ibucket"))
          .distinct()
          .repartition(4, col("ibucket"))
          .sortWithinPartitions(col("ibucket"), col(idCol))
        Layout.replaceDir(updated, s"$path/_graft_ids", Seq("ibucket"))
      }
    }
  }

  /** Right-to-erasure compaction of a centroid-partitioned vector store
    * (flat [[writeIvfStore]] or two-level [[writeIvfStoreTwoLevel]] —
    * the layout is the same on disk — raw or PQ codes), IN PLACE: only
    * the directories that actually hold a tombstoned row are rewritten.
    * The FINDER ([[Layout.findTombstones]]) reads the `_graft_ids`
    * sidecar — only the <= |tombstones| id-hash partitions the
    * tombstones can live in, 12 B/row — so locating the hit directories
    * never opens the store's own files (pre-sidecar stores fall back to
    * one (id, centroid_id) columnar semi-join); survivors of ONLY the hit
    * directories rewrite via dynamic partition overwrite, and directories
    * a deletion fully empties are removed explicitly
    * ([[Layout.execDirRewrite]]). At 100 TB a deletion request therefore
    * reads a sidecar sliver plus ~|hit directories|/C of the store and
    * none of the rest. Removal ≡ rebuild on the surviving corpus (each
    * store row derives from exactly one source vector — the
    * [[graft.operators.Dedup.forgetDocs]] compaction theorem);
    * `s_ann_forget_stored` hash-checks exactly that against a
    * rebuild-semantics oracle, and the spec pins the fully-emptied-
    * directory case.
    *
    * A codes store's exact-vector rerank sidecar forgets the same ids —
    * erasure that leaves the raw vector fetchable by every re-rank is no
    * erasure at all. The store's recorded linkage drives the cascade
    * ([[resolveRerankLink]]): a caller that passes no `rerankStorePath`
    * still erases the recorded sidecar, a path contradicting the record
    * refuses, and a recorded-but-unreachable sidecar refuses, all BEFORE
    * the codes mutate. Only stores predating the linkage record fall back
    * to `rerankStorePath`. Codes first, then vectors: a crash between
    * the two leaves orphan vectors (never shortlisted, and the re-run
    * erases them) rather than codes whose re-rank silently drops.
    * Each store mutates under its own staged pending marker; same
    * single-writer contract as every stored index.
    */
  def forgetIvfStoreAt(spark: SparkSession, path: String,
                       tombstones: DataFrame, idCol: String,
                       rerankStorePath: Option[String] = None): Unit = {
    val rerank = resolveRerankLink(spark, path, rerankStorePath)
    // both stores erase the SAME ids, even when the caller's frame is
    // derived from a store the first erasure rewrites
    val tomb =
      if (rerank.isEmpty) tombstones
      else tombstones.select(col(idCol)).localCheckpoint()
    forgetCentroidRowsAt(spark, path, tomb, idCol)
    rerank.foreach(forgetVectorStoreAt(spark, _, tomb, idCol))
  }

  /** [[forgetIvfStoreAt]] on the centroid-partitioned store itself: its
    * rows and its id sidecar. */
  private def forgetCentroidRowsAt(spark: SparkSession, path: String,
                                   tombstones: DataFrame,
                                   idCol: String): Unit = {
    // (typed tombstones, hit directories, sidecar hit rows when present)
    val found =
      if (sidecarExists(spark, path))
        Layout.findTombstones(spark, path, s"$path/_graft_ids", tombstones,
            idCol, "ibucket", Some(IdSidecarBuckets))
          .map(t => (t.ids, Layout.partitionHits(t.present, "home"),
            Some(t)))
      else {
        val (store, tomb) =
          Layout.typedTombstones(spark, path, path, tombstones, idCol)
        Some((tomb, Layout.partitionHits(
          store.join(broadcast(tomb), Seq(idCol), "left_semi"),
          "centroid_id"), None))
      }
    found.filter(_._2.nonEmpty).foreach { case (tomb, hit, side) =>
      // staged: survivors for the store AND the sidecar materialize
      // before the first write — a failure there releases the marker
      // (nothing mutated); a failure between the writes leaves it
      Layout.withPendingMarkerStaged(spark, path)({
        val storePlan = Layout.planCompaction(spark, path, "centroid_id",
          spark.read.parquet(path), tomb, idCol, hit)
        // the sidecar forgets its own rows by the same per-directory
        // rule, sorted back to its (ibucket, id) write order
        val sidePlan = side.flatMap { t =>
          Layout.planCompaction(spark, s"$path/_graft_ids", "ibucket",
            t.sidecar, tomb, idCol, Layout.partitionHits(t.present, "ibucket"),
            sortCols = Seq(idCol))
        }
        (storePlan, sidePlan)
      }) { case (storePlan, sidePlan) =>
        storePlan.foreach(Layout.execDirRewrite(spark, _))
        sidePlan.foreach(Layout.execDirRewrite(spark, _))
      }
    }
  }

  /** [[ivfTopKStored]] against a two-level layout: each query's probe
    * list is the `nprobe` nearest CHILDREN within its `nprobeTop`
    * nearest tops (one kernel pass, broadcast with the query), the
    * equi-join on the global child id drives the same DPP directory
    * pruning, and the exact-cosine tail is unchanged. Returns
    * (q_id, c_id, rank, sim); ties by candidate id.
    */
  def ivfTopKStoredTwoLevel(store: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            cb: TwoLevelCodebook, nprobeTop: Int = 2,
                            nprobe: Int = 3,
                            excludeSelf: Boolean = true,
                            broadcastQueries: Boolean = true,
                            roundSim: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, vector_norm}
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val probes = graft.functions.VectorFunctions.two_level_probes(
      col("__q_unit"), cb.tops, cb.children, nprobeTop, nprobe, cb.childIds)
    val qb = q.withColumn("centroid_id", explode(probes))
      .drop("__q_unit")
    val c = store.select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        col("centroid_id").cast("int").as("centroid_id"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    // the ingest-gate knobs (semdedup-gate): excludeSelf=false keeps a
    // re-delivered row's own stored copy as a candidate (this function's
    // default serves self-kNN/search, where q IS in the store);
    // broadcastQueries=false drops the hint so an unbounded batch plans
    // as a shuffle equi-join (AQE still broadcasts small ones);
    // roundSim=false returns the raw cosine so thresholds aren't
    // quantized to the 4-decimal display convention
    val joined =
      if (broadcastQueries) c.join(broadcast(qb), Seq("centroid_id"))
      else c.join(qb, Seq("centroid_id"))
    val base = joined
      .withColumn("sim", try_divide(dot_product(col("q_vec"), col("c_vec")),
        vector_norm(col("q_vec")) * col("c_norm")))
    val scored =
      if (excludeSelf) base.filter(col("c_id") =!= col("q_id")) else base
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    val simOut = if (roundSim) round(col("sim"), 4) else col("sim")
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), simOut.as("sim"))
  }

  /** [[ivfSelfTopK]] against a two-level layout — the past-the-clamp
    * mutual-kNN feeder: every row's probe list comes from ONE map-side
    * kernel pass (O(2√C·d), vs the flat feeder's O(C·d) literal array
    * that IS the documented wall past cMax), the (row, probe) pairs meet
    * the store in the same shuffle equi-join on the global child id, and
    * the symmetrize + WindowGroupLimit tail is identical.
    */
  def ivfSelfTopKTwoLevel(store: DataFrame, idCol: String, vecCol: String,
                          k: Int, cb: TwoLevelCodebook, nprobeTop: Int = 2,
                          nprobe: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, vector_norm}
    val q = normalized(
      store.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val probes = graft.functions.VectorFunctions.two_level_probes(
      col("__q_unit"), cb.tops, cb.children, nprobeTop, nprobe, cb.childIds)
    val qb = q.withColumn("centroid_id", explode(probes))
      .withColumn("q_norm", vector_norm(col("q_vec")))
      .drop("__q_unit")
    val c = store.select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        col("centroid_id").cast("int").as("centroid_id"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    val scored = c.join(qb, Seq("centroid_id"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        try_divide(dot_product(col("q_vec"), col("c_vec")),
          col("q_norm") * col("c_norm")).as("sim"))
    val sym = scored.unionAll(scored.select(col("c_id").as("q_id"),
        col("q_id").as("c_id"), col("sim")))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  /** Fixed id-hash directory count of the erasure sidecar — a constant,
    * not a knob, so appends to any store compute the same bucket with no
    * layout metadata to look up. */
  private val IdSidecarBuckets = 64

  private def idSidecarBucket(idCol: String): Column =
    pmod(xxhash64(col(idCol)), lit(IdSidecarBuckets)).cast("int")

  /** The ERASURE SIDECAR every centroid-partitioned store carries
    * (`path/_graft_ids`, underscore-prefixed so the store's own parquet
    * listing never sees it): one (id, home directory) row per stored
    * vector, partitioned by id hash into [[IdSidecarBuckets]]
    * directories and sorted by id within files. A right-to-erasure
    * batch looks its tombstones up HERE — reading only the <=
    * |tombstones| id-hash directories they can live in, each a
    * B-th of a 12-byte-per-row table — instead of scanning (id,
    * centroid_id) across every file of a 100 TB store (whose per-file
    * footer reads alone dwarf the sidecar at C = √N directories). Built
    * by READING BACK the written store (a 2-column projection — the
    * build pays no second assignment pass); appends add the batch's
    * rows; [[splitHotChildrenAt]] re-points re-homed rows.
    */
  private def writeIdSidecarAt(spark: SparkSession, path: String,
                       idCol: String): Unit = {
    val rows = spark.read.parquet(path)
      .select(col(idCol), col("centroid_id").cast("int").as("home"))
      .withColumn("ibucket", idSidecarBucket(idCol))
      .repartition(4, col("ibucket"))
      .sortWithinPartitions(col("ibucket"), col(idCol))
    Layout.replaceDir(rows, s"$path/_graft_ids", Seq("ibucket"))
  }

  private def sidecarExists(spark: SparkSession, path: String): Boolean =
    Layout.exists(spark, s"$path/_graft_ids")

  /** Append the batch's (id, home) rows — ONLY when the store already
    * carries a sidecar: appending onto a pre-sidecar store would create
    * a PARTIAL index that silently hides the historical rows from
    * erasure, the exact failure the sidecar exists to prevent. Written
    * BEFORE the store append (a crash between the two leaves a sidecar
    * row whose store row never landed — a harmless extra directory
    * probe — never a store row erasure can't find; the append's pending
    * marker makes the half-applied append loud regardless).
    */
  private def appendIdSidecar(assigned: DataFrame, idCol: String,
                              path: String): Unit =
    Layout.writer(assigned
        .select(col(idCol), col("centroid_id").cast("int").as("home"))
        .withColumn("ibucket", idSidecarBucket(idCol))
        .repartition(4, col("ibucket"))
        .sortWithinPartitions(col("ibucket"), col(idCol)))
      .mode("append").partitionBy("ibucket").parquet(s"$path/_graft_ids")

  /** An assigned (or encoded) batch ready to append: its rows, and
    * whether the store carries an id sidecar they also feed. */
  private final case class PreparedAppend(rows: DataFrame, sidecar: Boolean)

  /** The PREPARE phase every append shares (sink, library, streaming):
    * the rectangularity guard, then ONE materialization of the assignment
    * when the store carries a sidecar (the assignment kernel runs once per
    * batch and feeds both writes); pre-sidecar stores skip the checkpoint
    * — its extra job + block writes exist only to share work between two
    * consumers, and there is only one.
    */
  private def prepareAppend(assigned: DataFrame,
                            path: String): PreparedAppend = {
    val spark = assigned.sparkSession
    // an append missing a meta column writes files where that column
    // reads as NULL, and every later filtered search silently excludes
    // (or breaks on) exactly the appended rows. Cost: one footer read.
    val storeCols = spark.read.parquet(path).columns.toSet
    require(assigned.columns.toSet == storeCols,
      s"$path holds columns [${storeCols.toSeq.sorted.mkString(",")}] but " +
        s"this append carries [${assigned.columns.sorted.mkString(",")}] — " +
        "ragged appends silently break filtered search. Supply the " +
        "store's own metaCols (ivf-index derives them automatically).")
    if (sidecarExists(spark, path))
      PreparedAppend(assigned.localCheckpoint(), sidecar = true)
    else PreparedAppend(assigned, sidecar = false)
  }

  /** The MUTATE phase every append shares: sidecar rows first, then the
    * store rows into their centroid directories. */
  private def writeAppend(p: PreparedAppend, idCol: String,
                          path: String): Unit = {
    if (p.sidecar) appendIdSidecar(p.rows, idCol, path)
    Layout.writer(p.rows).mode("append").partitionBy("centroid_id")
      .parquet(path)
  }

  /** One public append: [[prepareAppend]] and [[writeAppend]] under the
    * store's staged pending marker, so a library or streaming append into
    * a marked store refuses, and one that dies between its writes leaves
    * the marker for the next writer to find. */
  private def fencedAppend(assigned: DataFrame, idCol: String,
                           path: String): Unit =
    Layout.withPendingMarkerStaged(assigned.sparkSession, path)(
      prepareAppend(assigned, path))(writeAppend(_, idCol, path))

  /** Physical IVF layout: the corpus written ONCE partitioned by coarse
    * centroid id (assignment on unit vectors — L2-nearest among unit
    * vectors is cosine-nearest, seeds must be unit too). With this
    * layout, [[ivfTopKStored]]'s probe pruning is DIRECTORY pruning: a
    * probe touches only its centroid's partition on disk, so at 100 TB a
    * query reads ~nprobe/C of the bytes instead of filtering them after a
    * full scan — the "assignment doubles as the physical partitioning
    * key" claim made physical. Write at ingest, reuse across queries.    *
    * `metaCols` (here and on every write/append below) carries metadata
    * columns alongside each vector — the layout filtered vector search
    * reads: attribute predicates land in the STORE SCAN (parquet-pushed,
    * under the same centroid-directory DPP pruning), so candidates are
    * cut by BOTH the probe set and the filter before any distance math.
    */
  def writeIvfStore(corpus: DataFrame, idCol: String, vecCol: String,
                    coarse: Seq[Seq[Double]], path: String,
                    metaCols: Seq[String] = Nil): Unit = {
    Layout.writer(ivfAssigned(corpus, idCol, vecCol, coarse, metaCols))
      .mode("overwrite").partitionBy("centroid_id").parquet(path)
    writeIdSidecarAt(corpus.sparkSession, path, idCol)
  }

  /** The metadata columns a written IVF store carries beyond
    * (id, vector, centroid_id) — what an APPEND must supply so the
    * layout stays rectangular, derived from the STORE's own schema
    * (the frozen-geometry discipline: the store, not the recipe, is the
    * authority on its columns). */
  private def storeMetaCols(spark: SparkSession, path: String, idCol: String,
                    vecCol: String): Seq[String] =
    spark.read.parquet(path).columns
      .filterNot(Set(idCol, vecCol, "centroid_id")).toSeq

  /** Filtered ANN over a [[writeIvfStore]] layout written with
    * `metaCols`: PRE-filtering —
    * `candFilter` applies to store rows before scoring, so the top-k is
    * taken over valid candidates only and every query fills its k slots
    * whenever the probed directories hold k matching rows. The
    * post-filter alternative (filter an unfiltered top-k) silently
    * underfetches — it can return fewer than k valid rows; specs pin the
    * difference. The filter is a plain column predicate on store
    * columns, so it reaches the parquet scan as a pushed filter and
    * composes with the probe-directory pruning.
    */
  def ivfTopKStoredFiltered(store: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            coarse: Seq[Seq[Double]], candFilter: Column,
                            nprobe: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val qdists = array(coarse.map(c =>
      l2_squared(col("__q_unit"), array(c.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(coarse.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val qb = q.withColumn("__probe", explode(probes))
      .withColumn("centroid_id", col("__probe").cast("int"))
      .drop("__q_unit", "__probe")
    val c = store.filter(candFilter)
      .select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        col("centroid_id").cast("int").as("centroid_id"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    val scored = c.join(broadcast(qb), Seq("centroid_id"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", try_divide(dot_product(col("q_vec"), col("c_vec")),
        vector_norm(col("q_vec")) * col("c_norm")))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  /** Append a batch of new vectors into an EXISTING [[writeIvfStore]]
    * layout — the steady-state ingest path: arrivals are coarse-assigned
    * map-side against the SAME frozen codebook the store was written
    * with, and an append-mode partitioned write touches only the
    * centroid directories the batch lands in. Queries over the store
    * ([[ivfTopKStored]]) see appended vectors with identical DPP probe
    * pruning; because assignment depends only on the frozen codebook,
    * any micro-batching of an ingest stream produces the same stored
    * rows (the streaming parity pin in
    * [[graft.streaming.EventStream.streamingIvfAppend]]). Runs under the
    * store's staged pending marker, the assignment materialized in the
    * prepare phase: an append into a marked store refuses, and one that
    * dies between its writes leaves the marker (the same fence as every
    * public append below and [[splitHotChildrenAt]]).
    */
  def appendIvfStore(batch: DataFrame, idCol: String, vecCol: String,
                     coarse: Seq[Seq[Double]], path: String,
                     metaCols: Seq[String] = Nil): Unit =
    fencedAppend(ivfAssigned(batch, idCol, vecCol, coarse, metaCols),
      idCol, path)

  private def ivfAssigned(corpus: DataFrame, idCol: String, vecCol: String,
                          coarse: Seq[Seq[Double]],
                          metaCols: Seq[String] = Nil): DataFrame = {
    val unit = normalized(
      corpus.select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
        col(vecCol).cast("array<double>").as("__u")): _*), "__u")
    assignCentroids(unit, "__u", coarse)
      .select((Seq(col(idCol), col(vecCol)) ++ metaCols.map(col) :+
        col("centroid_id")): _*)
  }

  /** Physical PQ layout: the codes-only index written ONCE at ingest —
    * (id, pq_codes, centroid_id) partitioned by coarse centroid id; the
    * [[writeIvfStore]] pattern carrying PQ codes instead of raw vectors.
    * This closes the last index-build-inside-the-query-path cost:
    * [[pqTopK]]/[[ivfPqTopK]] re-encode the whole corpus per run, while
    * a [[ivfPqTopKStored]] query reads this store — a few bytes per row
    * — with probe pruning as DIRECTORY pruning, and fetches exact
    * vectors only for shortlist survivors from the id-partitioned
    * [[writeVectorStore]]. At 100 TB the per-query read is
    * ~nprobe/C of a codes-only table plus |Q|·shortlist vector rows.
    * Encoding happens exactly once, at ingest, via the same
    * [[pqCodesExpr]]/[[assignCentroids]] kernels as the query path, so
    * stored and flat paths are bit-identical by construction.
    */
  def writePqStore(corpus: DataFrame, idCol: String, vecCol: String,
                   coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                   path: String): Unit = {
    Layout.writer(pqEncoded(corpus, idCol, vecCol, coarse, codebooks))
      .mode("overwrite").partitionBy("centroid_id").parquet(path)
    writeIdSidecarAt(corpus.sparkSession, path, idCol)
  }

  /** [[appendIvfStore]] for the PQ codes layout — steady-state ingest:
    * arrivals encode against the SAME frozen geometries the store was
    * written with (coarse router + subquantizer codebooks — reload them
    * via [[readPqCodebooksAt]] when re-attaching) and append to their
    * centroid directories; historical codes are never read or
    * rewritten, and encoding depends only on the frozen geometry, so
    * any micro-batching produces identical stored codes (append ≡
    * write-all, spec-pinned). Deletion composes unchanged:
    * [[forgetIvfStoreAt]] only touches (id, centroid_id), which the
    * codes layout carries.
    */
  def appendPqStore(batch: DataFrame, idCol: String, vecCol: String,
                    coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                    path: String): Unit =
    fencedAppend(pqEncoded(batch, idCol, vecCol, coarse, codebooks),
      idCol, path)

  /** PQ codes routed by a TWO-LEVEL coarse quantizer — the
    * past-the-clamp spelling of [[writePqStore]]: the router is the
    * O(2√C·d) [[twoLevelAssignExpr]] kernel instead of a flat literal
    * array, so C tracks √N to billions of vectors while each stored row
    * stays a few bytes of codes. On disk indistinguishable from a flat
    * codes store (partitioned by the GLOBAL child id), so DPP probe
    * pruning and [[forgetIvfStoreAt]] compose unchanged.
    */
  private def pqEncodedTwoLevel(corpus: DataFrame, idCol: String,
                                vecCol: String, cb: TwoLevelCodebook,
                                codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val unit = normalized(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__u")),
      "__u")
    unit.withColumn("centroid_id", twoLevelAssignExpr(col("__u"), cb))
      .select(col(idCol), pqCodesExpr(col("__u"), codebooks).as("pq_codes"),
        col("centroid_id"))
  }

  def writePqStoreTwoLevel(corpus: DataFrame, idCol: String, vecCol: String,
                           cb: TwoLevelCodebook,
                           codebooks: Seq[Seq[Seq[Double]]],
                           path: String): Unit = {
    Layout.writer(pqEncodedTwoLevel(corpus, idCol, vecCol, cb, codebooks))
      .mode("overwrite").partitionBy("centroid_id").parquet(path)
    writeIdSidecarAt(corpus.sparkSession, path, idCol)
  }

  /** [[appendPqStore]] for the two-level codes layout — frozen-geometry
    * encode + append; batch-split invariant like every append path. */
  def appendPqStoreTwoLevel(batch: DataFrame, idCol: String, vecCol: String,
                            cb: TwoLevelCodebook,
                            codebooks: Seq[Seq[Seq[Double]]],
                            path: String): Unit =
    fencedAppend(pqEncodedTwoLevel(batch, idCol, vecCol, cb, codebooks),
      idCol, path)

  private def pqEncoded(corpus: DataFrame, idCol: String, vecCol: String,
                        coarse: Seq[Seq[Double]],
                        codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val unit = normalized(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__u")),
      "__u")
    assignCentroids(unit, "__u", coarse)
      .select(col(idCol), pqCodesExpr(col("__u"), codebooks).as("pq_codes"),
        col("centroid_id"))
  }

  /** IVF-PQ over a [[writePqStore]] codes layout + a [[writeVectorStore]]
    * re-rank layout: probes explode on the broadcast query side and
    * equi-join the store's `centroid_id` partition column — dynamic
    * partition pruning skips every unprobed codes directory (the
    * [[ivfTopKStored]] mechanics; [[ivfPqTopK]]'s `array_contains` probe
    * predicate is non-equi and cannot prune). ADC scoring, shortlist,
    * and the DPP-pruned exact re-rank are unchanged, so the result is
    * row-identical to [[ivfPqTopK]] with the same codebooks
    * (PlanAuditSpec pins both the pruning and the equality).
    */
  def ivfPqTopKStored(store: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, coarse: Seq[Seq[Double]],
                      codebooks: Seq[Seq[Seq[Double]]],
                      vectorStore: (DataFrame, Int), nprobe: Int = 3,
                      shortlist: Int = 50,
                      excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.l2_squared
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val qdists = array(coarse.map(c =>
      l2_squared(col("__q_unit"), array(c.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(coarse.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val lut = array((0 until m).map { s =>
      val qs = slice(col("__q_unit"), s * sub + 1, sub)
      array(codebooks(s).map(c =>
        l2_squared(qs, array(c.map(lit): _*))): _*)
    }: _*)
    val qb = q.withColumn("q_lut", lut)
      .withColumn("__probe", explode(probes))
      .withColumn("centroid_id", col("__probe").cast("int"))
      .drop("__q_unit", "__probe")
    val c = store.select(col(idCol).as("c_id"), col("pq_codes"),
      col("centroid_id").cast("int").as("centroid_id"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("q_lut"), s + 1),
        element_at(col("pq_codes"), s + 1) + 1)).reduce(_ + _)
    val joined = c.join(broadcast(qb), Seq("centroid_id"))
    // excludeSelf = false keeps an id-equal stored candidate (external
    // query tables with an id space independent of the store's — the
    // ann-search source's default); true serves self-kNN, the library
    // default (the ivfTopKStored knob, PQ spelling)
    val scored =
      (if (excludeSelf) joined.filter(col("c_id") =!= col("q_id"))
       else joined)
        .select(col("q_id"), col("c_id"), adc.as("adc"), col("q_vec"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(asc("adc"), asc("c_id"))
    val short = scored.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"), col("q_vec"))
    // the store is codes-only; `store` fills the (unused) flat-corpus slot
    // — the re-rank always reads the id-partitioned vector store here
    rerankTopK(short, store, idCol, vecCol, k, Some(vectorStore))
  }

  /** [[ivfPqTopKStored]] routed by a TWO-LEVEL coarse quantizer (a
    * [[writePqStoreTwoLevel]] layout): each query's probe list is the
    * `nprobe` nearest CHILDREN within its `nprobeTop` nearest tops (one
    * [[graft.functions.VectorFunctions.two_level_probes]] kernel pass,
    * O(2√C·d) vs the flat router's O(C·d) literal array), the ADC table,
    * shortlist window, and DPP-pruned exact re-rank are the flat path's
    * verbatim. The past-the-clamp PQ composition: √N-sized codebooks AND
    * few-bytes-per-row codes in one store.
    */
  def ivfPqTopKStoredTwoLevel(store: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, k: Int,
                              cb: TwoLevelCodebook,
                              codebooks: Seq[Seq[Seq[Double]]],
                              vectorStore: (DataFrame, Int),
                              nprobeTop: Int = 2, nprobe: Int = 3,
                              shortlist: Int = 50,
                              excludeSelf: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.l2_squared
    val m = codebooks.size
    val sub = codebooks.head.head.size
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val probes = graft.functions.VectorFunctions.two_level_probes(
      col("__q_unit"), cb.tops, cb.children, nprobeTop, nprobe, cb.childIds)
    val lut = array((0 until m).map { s =>
      val qs = slice(col("__q_unit"), s * sub + 1, sub)
      array(codebooks(s).map(c =>
        l2_squared(qs, array(c.map(lit): _*))): _*)
    }: _*)
    val qb = q.withColumn("q_lut", lut)
      .withColumn("centroid_id", explode(probes))
      .drop("__q_unit")
    val c = store.select(col(idCol).as("c_id"), col("pq_codes"),
      col("centroid_id").cast("int").as("centroid_id"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("q_lut"), s + 1),
        element_at(col("pq_codes"), s + 1) + 1)).reduce(_ + _)
    val joined = c.join(broadcast(qb), Seq("centroid_id"))
    // same excludeSelf knob as the flat PQ path — see [[ivfPqTopKStored]]
    val scored =
      (if (excludeSelf) joined.filter(col("c_id") =!= col("q_id"))
       else joined)
        .select(col("q_id"), col("c_id"), adc.as("adc"), col("q_vec"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(asc("adc"), asc("c_id"))
    val short = scored.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"), col("q_vec"))
    rerankTopK(short, store, idCol, vecCol, k, Some(vectorStore))
  }

  /** Exact-cosine IVF over a [[writeIvfStore]] layout: each query probes
    * its `nprobe` nearest coarse centroids and scores ONLY the store
    * partitions those probes name — the (query, probe) pairs broadcast
    * and the equi-join on `centroid_id` lets dynamic partition pruning
    * skip every unprobed directory (same DPP mechanics as the PQ
    * re-rank). Returns (q_id, c_id, rank, sim); deterministic ties by
    * candidate id.
    */
  def ivfTopKStored(store: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, coarse: Seq[Seq[Double]],
                    nprobe: Int = 3,
                    excludeSelf: Boolean = true,
                    broadcastQueries: Boolean = true,
                    roundSim: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val qdists = array(coarse.map(c =>
      l2_squared(col("__q_unit"), array(c.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(coarse.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val qb = q.withColumn("__probe", explode(probes))
      .withColumn("centroid_id", col("__probe").cast("int"))
      .drop("__q_unit", "__probe")
    val c = store.select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        col("centroid_id").cast("int").as("centroid_id"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    // same ingest-gate knobs as [[ivfTopKStoredTwoLevel]] — see there
    val joined =
      if (broadcastQueries) c.join(broadcast(qb), Seq("centroid_id"))
      else c.join(qb, Seq("centroid_id"))
    val base = joined
      .withColumn("sim", try_divide(dot_product(col("q_vec"), col("c_vec")),
        vector_norm(col("q_vec")) * col("c_norm")))
    val scored =
      if (excludeSelf) base.filter(col("c_id") =!= col("q_id")) else base
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    val simOut = if (roundSim) round(col("sim"), 4) else col("sim")
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), simOut.as("sim"))
  }

  /** ALL-vectors-as-queries exact-cosine IVF top-k over a [[writeIvfStore]]
    * layout — the production feeder for [[mutualTopK]] (every row needs its
    * own neighbor list, so the query side is the corpus itself). Unlike
    * [[ivfTopKStored]] (small broadcast query side), nothing broadcasts:
    * each row's `nprobe` probe centroids are computed MAP-SIDE against the
    * coarse literal, and the (row, probe) pairs meet the store in a
    * SHUFFLE equi-join on `centroid_id` — total work is
    * Σ_cluster |members| × |probers of that cluster|, a cluster-bounded
    * quadratic (the SemDeDup shape), never the N² cartesian. The candidate
    * set is then SYMMETRIZED — (a, b) is scored when EITHER endpoint
    * probes the other's home cluster — because cosine is symmetric the
    * swapped orientation reuses the already-computed score (one
    * union + dedup, no extra distance math), and each row's list ranks
    * over the union of its own probes and its partners' probes, which
    * materially lifts reciprocal-pair recall (the [[mutualTopK]] feeder
    * semantics). Per-query top-k is a WindowGroupLimit over those
    * candidates. Returns (q_id, c_id, rank, sim); deterministic ties by
    * candidate id.
    */
  def ivfSelfTopK(store: DataFrame, idCol: String, vecCol: String, k: Int,
                  coarse: Seq[Seq[Double]], nprobe: Int = 3): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val q = normalized(
      store.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val qdists = array(coarse.map(c =>
      l2_squared(col("__q_unit"), array(c.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(coarse.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val qb = q.withColumn("__probe", explode(probes))
      .withColumn("centroid_id", col("__probe").cast("int"))
      .withColumn("q_norm", vector_norm(col("q_vec")))
      .drop("__q_unit", "__probe")
    val c = store.select(col(idCol).as("c_id"),
        col(vecCol).cast("array<double>").as("c_vec"),
        col("centroid_id").cast("int").as("centroid_id"))
      .withColumn("c_norm", vector_norm(col("c_vec")))
    val scored = c.join(qb, Seq("centroid_id"))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        try_divide(dot_product(col("q_vec"), col("c_vec")),
          col("q_norm") * col("c_norm")).as("sim"))
    // symmetrize: the swapped orientation carries the SAME sim (the dot
    // fold is element-commutative and the norm product commutes), so the
    // dedup keeps bitwise-equal rows either way
    val sym = scored.unionAll(scored.select(col("c_id").as("q_id"),
        col("q_id").as("c_id"), col("sim")))
      .dropDuplicates("q_id", "c_id")
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  /** Re-rank fetch side: either the flat corpus (full scan) or a
    * [[writeVectorStore]] layout read whose `vs_part` directory column
    * lets DPP prune the fetch to the shortlist's partitions.
    */
  private def rerankSource(corpus: DataFrame, idCol: String, vecCol: String,
                           vectorStore: Option[(DataFrame, Int)]): DataFrame =
    vectorStore match {
      case Some((store, _)) =>
        store.select(col(idCol).as("c_id"),
          col(vecCol).cast("array<double>").as("c_vec"), col("vs_part"))
      case None =>
        corpus.select(col(idCol).as("c_id"),
          col(vecCol).cast("array<double>").as("c_vec"))
    }

  /** Exact-cosine re-rank of a (q_id, c_id, q_vec) shortlist: fetch
    * full-precision vectors for shortlist survivors ONLY, score, keep
    * top-k per query. Shared tail of [[pqTopK]] and [[ivfPqTopK]].
    */
  private def rerankTopK(short: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         vectorStore: Option[(DataFrame, Int)]): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, vector_norm}
    val cv = rerankSource(corpus, idCol, vecCol, vectorStore)
    val (probe, keys) = vectorStore match {
      case Some((_, parts)) =>
        // derive the partition key on the broadcast side: joining on it
        // makes the store scan DPP-prunable (the pruning subquery reuses
        // the shortlist broadcast — no extra job)
        (short.withColumn("vs_part", pmod(col("c_id"), lit(parts)).cast("int")),
          Seq("vs_part", "c_id"))
      case None => (short, Seq("c_id"))
    }
    val rer = cv.join(broadcast(probe), keys)
      .withColumn("sim", try_divide(dot_product(col("q_vec"), col("c_vec")),
        vector_norm(col("q_vec")) * vector_norm(col("c_vec"))))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sim"), asc("c_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("sim"), 4).as("sim"))
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, coarse: Seq[Seq[Double]],
                codebooks: Seq[Seq[Seq[Double]]], nprobe: Int = 3,
                shortlist: Int = 50,
                vectorStore: Option[(DataFrame, Int)] = None): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val m = codebooks.size
    val sub = codebooks.head.head.size
    // stored index: id + coarse bucket + PQ codes (assign on unit vectors:
    // L2-nearest among unit vectors is cosine-nearest)
    val unitCorpus = normalized(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__c_unit")),
      "__c_unit")
    val coarseIds = assignCentroids(unitCorpus, "__c_unit", coarse)
      .select(col(idCol).as("c_id"), col("centroid_id"))
    val index = pqEncode(corpus, idCol, vecCol, codebooks)
      .select(col(idCol).as("c_id"), col("pq_codes"))
      .join(coarseIds, "c_id")
    // broadcast side: probe list + ADC lookup tables + raw vector
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val qdists = array(coarse.map(c =>
      l2_squared(col("__q_unit"), array(c.map(lit): _*))): _*)
    val probes = slice(transform(array_sort(
      zip_with(qdists, sequence(lit(0), lit(coarse.size - 1)),
        (d, i) => struct(d.as("d"), i.as("i")))),
      s => s.getField("i")), 1, nprobe)
    val lut = array((0 until m).map { s =>
      val qs = slice(col("__q_unit"), s * sub + 1, sub)
      array(codebooks(s).map(c =>
        l2_squared(qs, array(c.map(lit): _*))): _*)
    }: _*)
    val qb = q.withColumn("probe_ids", probes).withColumn("q_lut", lut)
      .drop("__q_unit")
    val adc = (0 until m).map(s =>
      element_at(element_at(col("q_lut"), s + 1),
        element_at(col("pq_codes"), s + 1) + 1)).reduce(_ + _)
    val scored = index.join(broadcast(qb),
        array_contains(col("probe_ids"), col("centroid_id")) &&
          col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), adc.as("adc"), col("q_vec"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(asc("adc"), asc("c_id"))
    val short = scored.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"), col("q_vec"))
    rerankTopK(short, corpus, idCol, vecCol, k, vectorStore)
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, codebooks: Seq[Seq[Seq[Double]]],
             shortlist: Int = 50,
             vectorStore: Option[(DataFrame, Int)] = None): DataFrame = {
    import graft.functions.VectorFunctions.{dot_product, l2_squared, vector_norm}
    val m = codebooks.size
    val sub = codebooks.head.head.size
    // the stored index: id + codes, nothing else
    val index = pqEncode(corpus, idCol, vecCol, codebooks)
      .select(col(idCol).as("c_id"), col("pq_codes"))
    // broadcast side: queries with unit-normalized copy for the LUT and the
    // raw vector for the re-rank
    val q = normalized(
      queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("q_vec"),
        col(vecCol).cast("array<double>").as("__q_unit")),
      "__q_unit")
    val lut = array((0 until m).map { s =>
      val qs = slice(col("__q_unit"), s * sub + 1, sub)
      array(codebooks(s).map(c =>
        l2_squared(qs, array(c.map(lit): _*))): _*)
    }: _*)
    val qb = q.withColumn("q_lut", lut).drop("__q_unit")
    // ADC score: sum over subspaces of lut[s][code[s]] — fixed s=0..m-1
    // fold order, bit-reproducible
    val adc = (0 until m).map(s =>
      element_at(element_at(col("q_lut"), s + 1),
        element_at(col("pq_codes"), s + 1) + 1)).reduce(_ + _)
    val scored = index.join(broadcast(qb), col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"), adc.as("adc"), col("q_vec"))
    val wShort = Window.partitionBy(col("q_id")).orderBy(asc("adc"), asc("c_id"))
    val short = scored.withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= shortlist)
      .select(col("q_id"), col("c_id"), col("q_vec"))
    // exact re-rank: fetch full-precision vectors for the shortlist only
    rerankTopK(short, corpus, idCol, vecCol, k, vectorStore)
  }
}
