package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{CanonicalizeKernel, MinHashSignature, ShingleKernel, TermCountsKernel}

/** Model-based properties for the compiled text kernels: each kernel is
  * checked against an independent plain-JVM model over arbitrary inputs
  * (pure evaluation, no Spark jobs — the Spark-side bit-parity tests live
  * in ExtensionsSpec).
  */
object KernelProperties extends Properties("kernels") {

  private val wsChars = Seq(' ', '\t', '\n', '\u000B', '\f', '\r')
  private val genText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(wsChars).map(_.toString),
    1 -> Gen.oneOf("É", "ß", "Ω", ".", ",", "'", "\u0001",
      // decomposed sequences — NFC must recompose these
      "e\u0301", "A\u030A", "o\u0308", "Å"))).map(_.mkString)

  /** plain-Java model of NFC → trim-spaces → collapse \s+ → lowercase */
  private def canonModel(s: String): String = {
    val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val spaceTrimmed = nfc.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    UTF8String.fromString(spaceTrimmed.replaceAll("\\s+", " ")).toLowerCase.toString
  }

  property("canonicalize == nfc/trim/regex/lower model") = forAll(genText) { s =>
    CanonicalizeKernel.compute(UTF8String.fromString(s)).toString == canonModel(s)
  }

  /** plain-Java model of the shingle semantics (trim strips SPACES only,
    * like Spark's trim() — not Java String.trim's <= U+0020 sweep)
    */
  private def shingleModel(s: String, n: Int): Seq[String] = {
    val spaceTrimmed = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val toks = spaceTrimmed.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) Nil
    else (0 to math.max(toks.length - n, 0)).map(i =>
      toks.slice(i, math.min(i + n, toks.length)).mkString(" "))
  }

  property("shingles == tokenize/window model") =
    forAll(genText, Gen.choose(1, 5)) { (s, n) =>
      val got = ShingleKernel.compute(UTF8String.fromString(s), n)
      val exp = shingleModel(s, n)
      got.numElements() == exp.length &&
        (0 until got.numElements()).forall(i => got.getUTF8String(i).toString == exp(i))
    }

  /** plain-JVM model of a document's term counts: its distinct tokens in
    * first-occurrence order, each with its occurrence count */
  private def termCountsModel(tokens: Seq[String]): Seq[(String, Long)] =
    tokens.distinct.map(t => t -> tokens.count(_ == t).toLong)

  /** texts drawn from a small vocabulary, so tokens repeat: ASCII and
    * non-ASCII words, case variants and whitespace-only runs */
  private val genRepetitiveText: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf("a", "A", "b", "É", "é", "ßß", "Ω", "naïve", "日本", "x.y"),
    2 -> Gen.oneOf(wsChars).map(_.toString),
    1 -> Gen.listOf(Gen.oneOf(wsChars)).map(_.mkString))).map(_.mkString(" "))

  property("term counts == distinct-token count model") =
    forAll(Gen.oneOf(genText, genRepetitiveText)) { s =>
      val got = TermCountsKernel.compute(
        ShingleKernel.compute(UTF8String.fromString(s), 1))
      val exp = termCountsModel(shingleModel(s, 1))
      got.numElements() == exp.length && (0 until got.numElements()).forall {
        i =>
          val r = got.getStruct(i, 2)
          r.getUTF8String(0).toString == exp(i)._1 && r.getLong(1) == exp(i)._2
      }
    }

  private def signature(shingles: Seq[String], k: Int): Seq[Long] = {
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      shingles, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    MinHashSignature(lit, k).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
  }

  private val genShingleSet: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  property("minhash: set semantics — order and duplicates don't matter") =
    forAll(genShingleSet, Gen.choose(1, 64)) { (ss, k) =>
      signature(ss, k) == signature(scala.util.Random.shuffle(ss ++ ss), k)
    }

  property("minhash: identical sets agree, disjoint large sets mostly differ") =
    forAll(genShingleSet) { ss =>
      val k = 32
      val base = signature(ss, k)
      base.length == k && base == signature(ss, k)
    }

  property("minhash: signature is monotone under union (min can only drop)") =
    forAll(genShingleSet, genShingleSet) { (a, b) =>
      val k = 16
      signature(a ++ b, k).lazyZip(signature(a, k)).forall(_ <= _)
    }

  // --- protobuf wire framing (graft.sinks.ProtoWire) ---

  private def decodeVarints(bytes: Array[Byte]): Seq[Long] = {
    var i = 0
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    while (i < bytes.length) {
      var v = 0L; var shift = 0; var more = true
      while (more) {
        val b = bytes(i); i += 1
        v |= (b & 0x7FL) << shift; shift += 7; more = (b & 0x80) != 0
      }
      out += v
    }
    out.toSeq
  }

  property("varint round-trips any sequence of unsigned longs") =
    forAll(Gen.listOf(Gen.chooseNum(0L, Long.MaxValue))) { vs =>
      val bytes = graft.sinks.ProtoWire.bytesOf { out =>
        vs.foreach(v => graft.sinks.ProtoWire.putVarint(out, v))
      }
      decodeVarints(bytes) == vs
    }

  property("proto3 zero values are omitted, non-zero fields framed with correct tags") =
    forAll(Gen.chooseNum(1L, Long.MaxValue), Gen.choose(1, 500)) { (v, field) =>
      import graft.sinks.ProtoWire._
      val zero = bytesOf { out =>
        putInt(out, field, 0L); putString(out, field, ""); putBool(out, field, false)
        putDouble(out, field, 0.0)
      }
      val one = bytesOf(out => putInt(out, field, v))
      zero.isEmpty && decodeVarints(one) == Seq((field.toLong << 3) | 0L, v)
    }

  property("ppm decode: dims parsed, histogram sums to 1, truncation rejected") =
    forAll(Gen.choose(1, 8), Gen.choose(1, 8), Gen.listOf(Gen.chooseNum(0, 255))) {
      (w, h, noise) =>
        val pixels = Array.tabulate(w * h * 3)(i =>
          (noise.lift(i % math.max(noise.length, 1)).getOrElse(0) & 0xFF).toByte)
        val bytes = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ pixels
        val m = graft.multimodal.Multimodal.decodePpm(1L, bytes)
        val truncated = graft.multimodal.Multimodal.decodePpm(1L,
          bytes.dropRight(1 + pixels.length))
        m.exists(d => d.width == w && d.height == h &&
          math.abs(d.features.sum - 1.0f) < 1e-4) && truncated.isEmpty
    }

  property("wav decode: frames = samples/channels, rms in [0,1]") =
    forAll(Gen.choose(1, 2), Gen.nonEmptyListOf(Gen.chooseNum(-32768, 32767))) {
      (channels, samples0) =>
        // pad to a whole frame
        val samples = samples0.take(64).padTo(channels, 0)
        def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
        def le32(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
          ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
        val data = samples.flatMap(le16).toArray
        val wav = "RIFF".getBytes ++ le32(36 + data.length) ++ "WAVE".getBytes ++
          "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(channels) ++ le32(8000) ++
          le32(8000 * channels * 2) ++ le16(channels * 2) ++ le16(16) ++
          "data".getBytes ++ le32(data.length) ++ data
        graft.multimodal.Multimodal.decodeWav(1L, wav).exists(d =>
          d.channels == channels && d.height == samples.length / channels &&
            d.width == 8000 && d.features.forall(f => f >= 0f && f <= 1.0001f))
    }

  property("jpeg codec: dims exact, round-trip error bounded, truncation rejected") =
    forAll(Gen.choose(1, 20), Gen.choose(1, 20), Gen.oneOf(1, 3),
      Gen.chooseNum(0, 255), Gen.chooseNum(1, 17)) { (w, h, channels, base, step) =>
      // smooth gradient content (worst-case random noise is not what a
      // quality-90 bound should be judged on; noise is covered by the
      // dedicated spec's mean-error gate)
      val px = Array.tabulate(w * h * channels)(i => ((base + i / step) % 256).toByte)
      val enc = graft.multimodal.Jpeg.encode(w, h, channels, px, quality = 95)
      val dec = graft.multimodal.Jpeg.decode(enc)
      val truncated = graft.multimodal.Jpeg.decode(enc.dropRight(math.max(4, enc.length / 4)))
      dec.exists { case (dw, dh, dc, out) =>
        dw == w && dh == h && dc == channels && out.length == px.length &&
          px.indices.forall(i => math.abs((px(i) & 0xFF) - (out(i) & 0xFF)) <= 48)
      } && truncated.isEmpty
    }

  property("gzip codec: byte-exact round trip, corrupt tails rejected") =
    forAll(Gen.listOf(Gen.chooseNum(0, 255)), Gen.choose(1, 8)) { (data0, cut) =>
      val data = data0.map(_.toByte).toArray
      val gz = graft.multimodal.Multimodal.gzipBytes(data)
      val rt = graft.multimodal.Multimodal.gunzipBytes(gz)
      // dropping bytes must never yield a WRONG answer: either reject or
      // (never) the exact original — the CRC trailer makes partial
      // streams detectable
      val cutRes = graft.multimodal.Multimodal.gunzipBytes(gz.dropRight(cut))
      rt.exists(_.sameElements(data)) &&
        (cutRes.isEmpty || cutRes.exists(_.sameElements(data)))
    }

  property("kmeansLocal: k preserved, spherical centroids unit-norm, empty input = init") =
    forAll(Gen.choose(1, 4), Gen.choose(2, 5),
      Gen.listOf(Gen.listOfN(3, Gen.chooseNum(-5.0, 5.0)))) { (k, iters, pts0) =>
      val pts = pts0.map(_.toSeq)
      val init = Seq.tabulate(k)(i => Seq(i + 1.0, -i - 1.0, 0.5))
      val out = graft.operators.Similarity.kmeansLocal(pts, init, iters, spherical = true)
      val unitOk = out.forall { c =>
        val n = math.sqrt(c.map(x => x * x).sum); math.abs(n - 1.0) < 1e-9 || n == 0.0
      }
      out.size == k && (if (pts.isEmpty) out == init else unitOk)
    }

  property("mp3 header walk: round-trips the full parameter space; truncation drops frames") =
    forAll(Gen.choose(1, 14), Gen.choose(0, 2), Gen.choose(0, 3),
      Gen.choose(0, 1), Gen.choose(1, 6), Gen.choose(0, 300)) {
      (bIdx, rIdx, mode, pad, frames, id3) =>
        val bytes = graft.multimodal.Multimodal.encodeMp3(
          bIdx, rIdx, mode, pad, frames, id3)
        val m = graft.multimodal.Multimodal.decodeMp3Meta(bytes).get
        val kbps = Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
          256, 320)(bIdx - 1)
        val rate = Seq(44100, 48000, 32000)(rIdx)
        val base = m.bitrateKbps == kbps && m.sampleRate == rate &&
          m.channels == (if (mode == 3) 1 else 2) && m.frames == frames &&
          m.durationMs == frames.toLong * 1152L * 1000L / rate
        // chopping any suffix never over-counts frames and never throws
        val cut = graft.multimodal.Multimodal.decodeMp3Meta(bytes.dropRight(1))
        base && cut.forall(_.frames <= frames)
    }

  property("misra-gries: <= k counters, lower bounds within N/(k+1), heavies present") =
    forAll(Gen.choose(1, 12), Gen.listOf(Gen.choose(0, 20))) { (k, xs) =>
      // simulate the distributed path: split the stream arbitrarily,
      // sketch each part, merge — the mergeable-summaries contract
      val mg = graft.functions.MisraGries(
        org.apache.spark.sql.catalyst.expressions.BoundReference(0,
          org.apache.spark.sql.types.StringType, nullable = true), k)
      def sketch(part: Seq[Int]): scala.collection.mutable.HashMap[String, Long] = {
        var b = mg.createAggregationBuffer()
        part.foreach { v =>
          // the REAL update, with a serialize round-trip interleaved
          b = mg.update(mg.deserialize(mg.serialize(b)),
            org.apache.spark.sql.catalyst.InternalRow(
              org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)))
        }
        b
      }
      val (l, r) = xs.splitAt(xs.size / 3)
      val merged = mg.merge(sketch(l), sketch(r))
      val truth = xs.groupBy(_.toString).view.mapValues(_.size.toLong).toMap
      val n = xs.size
      val boundOk = merged.forall { case (t, c) =>
        c <= truth(t) && c >= truth(t) - n.toDouble / (k + 1) }
      val heaviesOk = truth.forall { case (t, f) =>
        f <= n.toDouble / (k + 1) || merged.contains(t) }
      merged.size <= k && boundOk && heaviesOk
    }

  property("char entropy == the direct fixed-point model on random text") =
    forAll(Gen.listOf(Gen.frequency(
      (8, Gen.alphaLowerChar), (2, Gen.const(' ')), (1, Gen.oneOf('!', '9', 'Z'))))) { cs =>
      val text = cs.mkString
      val spark = TestSpark.spark
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val got = Seq(text).toDF("t")
        .select(graft.operators.TextAnalysis.charEntropyMilli(col("t")))
        .collect()(0).getLong(0)
      // model: L*lnL - sum n*ln n over the 27-bucket histogram, pointwise
      // rounds, OTHER pooled
      val alpha = graft.operators.TextAnalysis.entropyAlphabet.map(_.head)
      val counts = alpha.map(c => text.count(_ == c).toLong)
      val other = text.length - counts.sum
      def t1(n: Long) = if (n > 0) math.round(1e6 * n * math.log(n.toDouble)) else 0L
      val want = if (text.isEmpty) 0L
        else math.round(1e6 * text.length * math.log(text.length.toDouble)) -
          (counts :+ other).map(t1).sum
      got == want
    }

  /** plain-Scala model of the CDC boundary rule: code-point array, the
    * 8-term base-31 polynomial per sliding window, 1-based positions
    * where h % 64 == 0 — the DuckDB twin's exact arithmetic.
    */
  private def cdcModel(s: String): Seq[Int] = {
    val cps = s.codePoints().toArray
    val pow = Array(27512614111L, 887503681L, 28629151L, 923521L,
      29791L, 961L, 31L, 1L)
    (8 to cps.length).filter { i =>
      (0 until 8).map(j => cps(i - 8 + j).toLong * pow(j)).sum % 64 == 0
    }
  }

  property("cdc boundaries == sliding-window polynomial model") =
    forAll(genText) { s =>
      val got = graft.functions.CdcKernel.boundaries(UTF8String.fromString(s))
        .toIntArray().toSeq
      got == cdcModel(s)
    }

  /** plain-Scala model of the two-level probe kernel: nprobeTop nearest
    * tops by (L2², top index), then the nprobe nearest children among
    * those tops by (L2², global id) — lexicographic tuple sorts encode
    * exactly the kernel's strict-less tie rules, and the distance folds
    * run in the same element order, so doubles compare bit-identically.
    */
  private def probesModel(v: Seq[Double], tops: Seq[Seq[Double]],
                          kids: Seq[Seq[Seq[Double]]], nt: Int, np: Int,
                          ids: Seq[Seq[Int]]): Seq[Int] = {
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    val gids = if (ids.nonEmpty) ids
      else {
        val base = kids.map(_.size).scanLeft(0)(_ + _).init
        kids.indices.map(t => Seq.tabulate(kids(t).size)(k => base(t) + k))
      }
    val chosen = tops.indices.sortBy(t => (d2(v, tops(t)), t)).take(nt)
    chosen.flatMap(t => kids(t).indices.map(k =>
        (d2(v, kids(t)(k)), gids(t)(k))))
      .sortBy(identity).take(np).map(_._2)
  }

  private def probesKernel(v: Seq[Double], tops: Seq[Seq[Double]],
                           kids: Seq[Seq[Seq[Double]]], nt: Int, np: Int,
                           ids: Seq[Seq[Int]]): Seq[Int] = {
    val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
      v, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    graft.functions.TwoLevelProbes(lit, tops, kids, nt, np, ids).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toIntArray().toSeq
  }

  // small-integer coordinates make distance TIES frequent — the tie
  // rules (lowest top index, lowest global id) are the hard part
  private val genCodebook: Gen[(Seq[Double], Seq[Seq[Double]],
      Seq[Seq[Seq[Double]]], Int, Int)] =
    for {
      d <- Gen.choose(1, 4)
      coord = Gen.choose(-2, 2).map(_.toDouble)
      vec = Gen.listOfN(d, coord).map(_.toSeq)
      v <- vec
      nTops <- Gen.choose(1, 4)
      tops <- Gen.listOfN(nTops, vec).map(_.toSeq)
      kids <- Gen.listOfN(nTops,
        Gen.choose(1, 3).flatMap(m => Gen.listOfN(m, vec).map(_.toSeq)))
        .map(_.toSeq)
      nt <- Gen.choose(1, 5)
      np <- Gen.choose(1, 7)
    } yield (v, tops, kids, nt, np)

  property("two-level probes == model (default contiguous ids)") =
    forAll(genCodebook) { case (v, tops, kids, nt, np) =>
      probesKernel(v, tops, kids, nt, np, Nil) ==
        probesModel(v, tops, kids, nt, np, Nil)
    }

  property("two-level probes == model (explicit shuffled ids)") =
    forAll(genCodebook, Gen.choose(0, 1000)) {
      case ((v, tops, kids, nt, np), salt) =>
        // distinct but non-contiguous, non-monotone global ids
        val n = kids.map(_.size).sum
        val perm = scala.util.Random.javaRandomToRandom(
          new java.util.Random(salt.toLong)).shuffle((0 until n).toList)
          .map(_ * 3 + 1)
        var i = -1
        val ids = kids.indices.map(t =>
          Seq.tabulate(kids(t).size) { _ => i += 1; perm(i) })
        probesKernel(v, tops, kids, nt, np, ids) ==
          probesModel(v, tops, kids, nt, np, ids)
    }

  /** [[graft.functions.SortedOverlapKernel]] == set-intersection size on
    * sorted distinct string arrays (the prefixFilterJoin verify contract:
    * callers sort_array(array_distinct(...)) both sides).
    */
  private val genTokenSet: Gen[Seq[String]] =
    Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("", "a", "aa", "É b", "ß", "Ω x y")))
      .map(_.distinct.sortBy(UTF8String.fromString))

  property("sorted overlap count == set intersection model") =
    forAll(genTokenSet, genTokenSet) { (a, b) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      def arr(s: Seq[String]) =
        new GenericArrayData(s.map(UTF8String.fromString).toArray[Any])
      graft.functions.SortedOverlapKernel.overlap(arr(a), arr(b)) ==
        (a.toSet & b.toSet).size.toLong
    }
}
