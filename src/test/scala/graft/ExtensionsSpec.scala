package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.functions.VectorFunctions
import graft.multimodal.{Jpeg, Multimodal}
import graft.operators.Similarity
import graft.streaming.EventStream

class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  test("native cosine kernel matches the higher-order-function formulation") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.0, 0.0), Array(0.0, 0.0)), // zero norm → null
      (Array(1.0, 0.0), Array(1.0, 0.0))
    ).toDF("a", "b")
    val rows = df.select(
      VectorFunctions.cosine_sim(col("a"), col("b")).as("fast"),
      Similarity.cosine(col("a"), col("b")).as("hof")).collect()
    assert(rows(0).getDouble(0) == rows(0).getDouble(1)) // bitwise equal
    assert(rows(1).isNullAt(0))
    assert(rows(2).getDouble(0) == 1.0)
  }

  test("length mismatch yields null; l2_squared computes distance") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine_sim(col("a"), col("b")))
      .collect()(0).isNullAt(0))
    val d = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(VectorFunctions.l2_squared(col("a"), col("b"))).collect()(0).getDouble(0)
    assert(d == 8.0)
  }

  test("two-level probe kernel: one top owning all children IS the flat argmin") {
    // the degenerate theorem that anchors the hierarchy to the flat
    // codebook: with a single top every child is visited, so the probe
    // list must equal the flat (distance, index) ranking exactly
    val kids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.6, 0.8), Seq(-1.0, 0.0))
    val df = Seq(Tuple1(Array(0.5, 0.9))).toDF("v")
    val got = df.select(VectorFunctions.two_level_probes(col("v"),
      Seq(Seq(0.0, 0.0)), Seq(kids), 1, 4)).collect()(0).getSeq[Int](0)
    val flat = kids.zipWithIndex.map { case (c, i) =>
      (c.zip(Seq(0.5, 0.9)).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(identity).map(_._2)
    assert(got == flat, s"got $got, flat $flat")
  }

  test("two-level probe kernel: hierarchy, ties, truncation, null safety") {
    // tops split the plane; the query's nearest top is t0, so its
    // assignment must be a CHILD OF t0 even though t1's child is
    // globally closer in one configuration — the approximation the
    // recall gate prices
    val tops = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val kids = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.9, 0.1)),  // gids 0, 1
      Seq(Seq(0.9, 0.32)))                // gid 2 (globally nearest below)
    val df = Seq(Tuple1(Array(0.9, 0.3))).toDF("v")
    val assign = df.select(element_at(VectorFunctions.two_level_probes(
      col("v"), tops, kids, 1, 1), 1)).collect()(0).getInt(0)
    assert(assign == 1, s"nearest top is t0, so assignment must stay in t0: $assign")
    // with both tops probed the global child order wins
    val both = df.select(VectorFunctions.two_level_probes(
      col("v"), tops, kids, 2, 3)).collect()(0).getSeq[Int](0)
    assert(both == Seq(2, 1, 0), both.toString)
    // identical children tie to the LOWEST global id
    val dup = df.select(VectorFunctions.two_level_probes(
      col("v"), Seq(Seq(0.0, 0.0)),
      Seq(Seq(Seq(0.6, 0.8), Seq(0.6, 0.8))), 1, 2)).collect()(0).getSeq[Int](0)
    assert(dup == Seq(0, 1), dup.toString)
    // fewer children than nprobe → truncated, never padded
    val short = df.select(VectorFunctions.two_level_probes(
      col("v"), tops, kids, 1, 5)).collect()(0).getSeq[Int](0)
    assert(short == Seq(1, 0), short.toString)
    // dimension mismatch and null input yield null
    val bad = Seq(Tuple1(Array(1.0, 2.0, 3.0))).toDF("v")
      .select(VectorFunctions.two_level_probes(col("v"), tops, kids, 1, 1))
    assert(bad.collect()(0).isNullAt(0))
  }

  test("kernels are registered for SQL use") {
    VectorFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        | cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        | dot_product(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS d,
        | vector_norm(array(3.0d, 4.0d)) AS n,
        | word_shingles('a b c d', 3) AS sh,
        | size(minhash_signature(array('x', 'y'), 16)) AS mh,
        | simhash64(array('tok')) AS sim,
        | canonicalize_text('  A   b ') AS canon,
        | token_stats('the Quick fox').n_tokens AS tsn,
        | token_stats('the Quick fox').stop_hits AS tss""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 23.0)
    assert(r.getDouble(2) == 5.0)
    assert(r.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(r.getInt(4) == 16)
    assert(r.getString(6) == "a b")
    assert(r.getInt(7) == 3 && r.getInt(8) == 1)
    // the aggregate kernel from SQL: sketch a skewed stream
    import spark.implicits._
    (Seq.fill(9)("hot") ++ Seq("a", "b", "c")).toDF("term")
      .createOrReplaceTempView("mg_terms")
    val sk = spark.sql(
      "SELECT misra_gries(term, 2) AS sk FROM mg_terms").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(sk.nonEmpty && sk.head.getString(0) == "hot")
    // the CDC kernel from SQL: boundaries of a known string are the
    // same positions the Scala API computes
    val cb = spark.sql(
      "SELECT cdc_boundaries('the quick brown fox jumps right over') AS b")
      .collect()(0).getSeq[Int](0)
    assert(cb == graft.functions.CdcKernel.boundaries(
      org.apache.spark.unsafe.types.UTF8String.fromString(
        "the quick brown fox jumps right over")).toIntArray().toSeq)
    // the JW kernel from SQL: the textbook MARTHA/MARHTA point
    val jw = spark.sql(
      "SELECT round(jaro_winkler('MARTHA', 'MARHTA'), 4) AS jw")
      .collect()(0).getDouble(0)
    assert(jw == 0.9611)
    // round-10 registrations: NFC composition and the JL sketch from SQL
    // the combining acute is embedded via Scala's \u escape — Spark SQL's
    // chr() is ASCII-mod-256, unlike DuckDB's codepoint chr()
    val nfc = spark.sql(
      "SELECT normalize_nfc('café') AS n").collect()(0).getString(0)
    assert(nfc == "café")
    val jl = spark.sql(
      "SELECT jl_project(array(1.0d, -2.0d), 4) AS p").collect()(0)
      .getSeq[Long](0)
    val sg = graft.functions.JlKernel.signs(4, 2)
    assert(jl == (0 until 4).map(p => 10000L * sg(p * 2) - 20000L * sg(p * 2 + 1)))
    // build-time injection path constructs without error
    new graft.functions.GraftExtensions().apply(
      new org.apache.spark.sql.SparkSessionExtensions)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("BMP round-trip: odd widths (row padding), bottom-up BGR, top-down variant") {
    for (w <- 5 to 8; h <- Seq(3, 4)) {
      val px = Array.tabulate(w * h * 3)(i => ((i * 7 + 3) % 256).toByte)
      val bmp = Multimodal.encodeBmp(w, h, px)
      assert(bmp.length == 54 + (w * 3 + (4 - (w * 3) % 4) % 4) * h)
      val dec = Multimodal.decodeBmpPixels(bmp).get
      assert(dec.width == w && dec.height == h && dec.channels == 3)
      assert(dec.pixels.toSeq == px.toSeq, s"w=$w h=$h")
    }
    // top-down variant (negative height): flip the height field and the
    // row order in the payload — decode must yield the same raster
    val w = 5; val h = 3
    val px = Array.tabulate(w * h * 3)(i => ((i * 11 + 5) % 256).toByte)
    val up = Multimodal.encodeBmp(w, h, px)
    val down = up.clone()
    val neg = -h
    down(22) = (neg & 0xFF).toByte; down(23) = ((neg >> 8) & 0xFF).toByte
    down(24) = ((neg >> 16) & 0xFF).toByte; down(25) = ((neg >> 24) & 0xFF).toByte
    val stride = w * 3 + (4 - (w * 3) % 4) % 4
    for (y <- 0 until h)
      System.arraycopy(up, 54 + (h - 1 - y) * stride, down, 54 + y * stride, stride)
    assert(Multimodal.decodeBmpPixels(down).get.pixels.toSeq == px.toSeq)
    // refusals: truncated file, non-24bpp
    assert(Multimodal.decodeBmpPixels(up.take(40)).isEmpty)
    val bad = up.clone(); bad(28) = 8
    assert(Multimodal.decodeBmpPixels(bad).isEmpty)
  }

  test("binary payload plumbing: schema, determinism, batch decode") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Multimodal.extractFeatures(df, "doc_id", "text")
    assert(out.schema.fieldNames.toSeq == Seq(
      "media_id", "byte_len", "format", "width", "height", "channels", "features"))
    assert(out.schema("features").dataType.simpleString == "array<float>")
    val rows = out.orderBy("media_id").collect()
    // identical bytes → identical fake decode (deterministic stub)
    assert(rows(0).getAs[Long]("byte_len") == 11L)
    assert(rows(0).getAs[Int]("width") == rows(1).getAs[Int]("width"))
    assert(rows(0).getSeq[Float](6) == rows(1).getSeq[Float](6))
    assert(rows(0).getAs[Int]("width") != rows(2).getAs[Int]("width") ||
      rows(0).getAs[Int]("height") != rows(2).getAs[Int]("height"))
    // dims stay in the stub's declared envelope
    assert(rows.forall(r => r.getAs[Int]("width") >= 64 && r.getAs[Int]("width") < 576))
  }

  test("mp4 box walk: metadata round-trips; malformed and foreign bytes fall back") {
    // round-trip: duration_ms is exact floor integer division
    val bytes = Multimodal.encodeMp4(600, 9001L, Seq("avc1", "mp4a"))
    val m = Multimodal.decodeMp4Meta(bytes).get
    assert(m.durationMs == 9001L * 1000 / 600)
    assert(m.trackCount == 2)
    assert(m.fourccs == Seq("avc1", "mp4a"))
    // zero tracks is a valid container
    val none = Multimodal.decodeMp4Meta(Multimodal.encodeMp4(1000, 0L, Nil)).get
    assert(none == Multimodal.Mp4Meta(0L, 0, Nil))
    // truncation anywhere inside the box tree must yield None, never throw
    for (cut <- Seq(4, 11, bytes.length / 2, bytes.length - 3))
      assert(Multimodal.decodeMp4Meta(bytes.take(cut)).isEmpty, s"cut=$cut")
    // non-mp4 payloads are not claimed
    assert(Multimodal.decodeMp4Meta("just some text bytes".getBytes).isEmpty)
    assert(Multimodal.decodeMp4Meta(Multimodal.encodeWav(8000, 1,
      Array[Short](1, 2, 3))).isEmpty)
    // decodeAuto dispatch: ftyp payloads surface as format=mp4 with
    // channels = track count and duration riding the feature slot
    val meta = Multimodal.decodeAuto(7L, bytes)
    assert(meta.format == "mp4" && meta.channels == 2)
    assert(meta.features.toSeq == Seq((9001L * 1000 / 600).toFloat))
  }

  test("jpeg EXIF: APP1 round-trips in both byte orders; malformed falls back") {
    val px = Array.fill[Byte](64)(9)
    val jpeg = Jpeg.encode(8, 8, 1, px)
    for (le <- Seq(true, false)) {
      val withExif = Multimodal.insertApp1(jpeg,
        Multimodal.exifApp1(le, "CAM3", 6, "2024:01:15 10:30:45"))
      val m = Multimodal.decodeExif(withExif).get
      assert(m == Multimodal.ExifMeta(if (le) "II" else "MM",
        "CAM3", 6, "2024:01:15 10:30:45"))
      // the APP1 doesn't disturb pixel decoding
      assert(Jpeg.decode(withExif).isDefined)
    }
    // no EXIF, non-JPEG, truncated: None, never throw
    assert(Multimodal.decodeExif(jpeg).isEmpty)
    assert(Multimodal.decodeExif("not jpeg".getBytes).isEmpty)
    val w = Multimodal.insertApp1(jpeg,
      Multimodal.exifApp1(true, "X", 1, "2024:01:01 00:00:00"))
    for (cut <- Seq(3, 12, 40)) // inside the segment chain / TIFF
      assert(Multimodal.decodeExif(w.take(cut)).isEmpty, s"cut=$cut")
    // bad orientation refused at encode time
    intercept[IllegalArgumentException] {
      Multimodal.exifApp1(true, "X", 0, "2024:01:01 00:00:00")
    }
  }

  test("mp4 media: PCM samples round-trip exactly in both byte orders") {
    val vals = Array(-32768, -1, 0, 1, 12345, 32767)
    def pcmBytes(be: Boolean) = vals.map { v =>
      if (be) Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      else Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    }.toSeq
    for ((fc, be) <- Seq(("twos", true), ("sowt", false), ("lpcm", true))) {
      val mp4 = Multimodal.encodeMp4Media(600, 100L, Seq(
        Multimodal.Mp4MediaTrack(fc, pcmBytes(be),
          channels = 1, sampleSize = 16, sampleRate = 8000)))
      val tracks = Multimodal.decodeMp4Tracks(mp4).get
      assert(tracks.size == 1)
      val t = tracks.head
      assert(t.fourcc == fc && t.channels == 1 &&
        t.sampleSize == 16 && t.sampleRate == 8000)
      assert(Multimodal.pcmSamples(t).get.toSeq == vals.toSeq)
      // the media file still yields container metadata (stsd walk is
      // entry-size agnostic)
      assert(Multimodal.decodeMp4Meta(mp4).get.fourccs == Seq(fc))
    }
  }

  test("mp4 media: MJPEG frames really decode; audio+video chunk offsets hold") {
    val px = Array.tabulate[Byte](64)(p => ((p * 7 + 11) % 256).toByte)
    val frame = Jpeg.encode(8, 8, 1, px)
    val audio = (0 until 5).map(i =>
      Array((i * 3).toByte, (i * 5).toByte)) // BE pairs
    val mp4 = Multimodal.encodeMp4Media(600, 100L, Seq(
      Multimodal.Mp4MediaTrack("twos", audio,
        channels = 1, sampleSize = 16, sampleRate = 8000),
      Multimodal.Mp4MediaTrack("jpeg", Seq(frame, frame), width = 8, height = 8)))
    val tracks = Multimodal.decodeMp4Tracks(mp4).get
    assert(tracks.size == 2)
    // second track's chunk offset must land exactly on the frame bytes
    val v = tracks(1)
    assert(v.fourcc == "jpeg" && v.channels == 0)
    assert(v.samples.size == 2 && v.samples.forall(_.sameElements(frame)))
    val (w, h, c, out) = Jpeg.decode(v.samples.head).get
    assert(w == 8 && h == 8 && c == 1)
    // JPEG is lossy but bounded: decoded grayscale within 16 of planted
    assert(out.zip(px).forall { case (a, b) =>
      math.abs((a & 0xFF) - (b & 0xFF)) <= 16 })
    // sample-table machinery: truncation never throws
    for (cut <- Seq(20, mp4.length / 2, mp4.length - 2))
      assert(Multimodal.decodeMp4Tracks(mp4.take(cut)).isEmpty, s"cut=$cut")
    assert(Multimodal.decodeMp4Tracks("plain".getBytes).isEmpty)
  }

  test("mp3 header walk: metadata round-trips; junk tails and foreign bytes handled") {
    // round-trip: 128 kbps (index 9) at 44100 Hz (index 0), joint stereo,
    // padding on, 5 frames behind a 37-byte ID3v2 tag
    val bytes = Multimodal.encodeMp3(bitrateIdx = 9, rateIdx = 0, mode = 1,
      padding = 1, frames = 5, id3Bytes = 37)
    val m = Multimodal.decodeMp3Meta(bytes).get
    assert(m == Multimodal.Mp3Meta(128, 44100, 2, 5, 5L * 1152 * 1000 / 44100))
    // mono mode → 1 channel; no ID3; padding off changes the stride
    val mono = Multimodal.decodeMp3Meta(Multimodal.encodeMp3(1, 2, 3, 0, 2, 0)).get
    assert(mono == Multimodal.Mp3Meta(32, 32000, 1, 2, 2L * 1152 * 1000 / 32000))
    // a truncated final frame is not counted; a junk tail stops the walk
    val cut = Multimodal.decodeMp3Meta(bytes.dropRight(3)).get
    assert(cut.frames == 4)
    val tail = Multimodal.decodeMp3Meta(bytes ++ "trailing tag junk".getBytes).get
    assert(tail.frames == 5)
    // no valid first frame → None, never throw (ID3 alone, foreign bytes,
    // an ID3 size pointing past the payload)
    assert(Multimodal.decodeMp3Meta(Multimodal.encodeMp3(9, 0, 1, 1, 1, 20).take(30)).isEmpty)
    assert(Multimodal.decodeMp3Meta("just some text bytes".getBytes).isEmpty)
    assert(Multimodal.decodeMp3Meta(Multimodal.encodeWav(8000, 1,
      Array[Short](1, 2, 3))).isEmpty)
    // decodeAuto dispatch: ID3-led payloads surface as format=mp3 with
    // channel count and duration riding the feature slot
    val meta = Multimodal.decodeAuto(7L, bytes)
    assert(meta.format == "mp3" && meta.channels == 2)
    assert(meta.features.toSeq == Seq((5L * 1152 * 1000 / 44100).toFloat))
  }

  test("real JPEG codec: encode/decode round-trip within DCT tolerance") {
    // flat-color block: DCT is exact on constants, so high-quality
    // round-trip must land within rounding of the source
    val flat = Array.fill(8 * 8 * 3)(0.toByte)
    for (i <- 0 until 64) { flat(i * 3) = 200.toByte; flat(i * 3 + 1) = 100.toByte }
    val dFlat = Jpeg.decode(Jpeg.encode(8, 8, 3, flat, quality = 95)).get
    assert(dFlat._1 == 8 && dFlat._2 == 8 && dFlat._3 == 3)
    for (i <- 0 until flat.length) {
      val want = flat(i) & 0xFF; val got = dFlat._4(i) & 0xFF
      assert(math.abs(want - got) <= 4, s"flat px $i: $want vs $got")
    }
    // gradient, non-multiple-of-8 dims (edge replication + crop)
    val w = 13; val h = 10
    val grad = Array.tabulate(w * h * 3)(i => ((i * 7) % 256).toByte)
    val d = Jpeg.decode(Jpeg.encode(w, h, 3, grad, quality = 90)).get
    assert(d._1 == w && d._2 == h && d._3 == 3)
    val maxErr = grad.indices.map(i => math.abs((grad(i) & 0xFF) - (d._4(i) & 0xFF))).max
    assert(maxErr <= 40, s"gradient max err $maxErr") // lossy, but sane
    val meanErr = grad.indices.map(i =>
      math.abs((grad(i) & 0xFF) - (d._4(i) & 0xFF))).sum.toDouble / grad.length
    assert(meanErr <= 8.0, s"gradient mean err $meanErr")
    // grayscale single-component path
    val gray = Array.tabulate(16 * 8)(i => (i * 2).toByte)
    val dg = Jpeg.decode(Jpeg.encode(16, 8, 1, gray, quality = 95)).get
    assert(dg._1 == 16 && dg._2 == 8 && dg._3 == 1)
    val gErr = gray.indices.map(i => math.abs((gray(i) & 0xFF) - (dg._4(i) & 0xFF))).max
    assert(gErr <= 12, s"gray max err $gErr")
    // determinism: equal input -> equal bytes
    assert(Jpeg.encode(8, 8, 3, flat).toSeq == Jpeg.encode(8, 8, 3, flat).toSeq)
    // rejects: not a JPEG, truncated entropy stream, progressive SOF2
    assert(Jpeg.decode("nope".getBytes("US-ASCII")).isEmpty)
    val enc = Jpeg.encode(8, 8, 3, flat)
    assert(Jpeg.decode(enc.dropRight(enc.length / 3)).isEmpty)
    val prog = enc.clone()
    // flip the SOF0 marker byte (FF C0 -> FF C2) wherever it occurs
    for (i <- 0 until prog.length - 1
         if (prog(i) & 0xFF) == 0xFF && (prog(i + 1) & 0xFF) == 0xC0)
      prog(i + 1) = 0xC2.toByte
    assert(Jpeg.decode(prog).isEmpty)
    // decodeAuto dispatch + histogram features
    val meta = Multimodal.decodeAuto(5L, enc)
    assert(meta.format == "jpeg" && meta.width == 8 && meta.height == 8)
    assert(math.abs(meta.features.sum - 1.0f) < 1e-4)
    // adversarial: quality 100 (all quant entries 1) on a checkerboard —
    // the worst-case AC coefficient hits |1024| = size 11, absent from the
    // Annex K tables; the encoder must clamp, not NPE
    val checker = Array.tabulate(16 * 16 * 3) { i =>
      val p = i / 3; val x = p % 16; val y = p / 16
      (if ((x + y) % 2 == 0) 0 else 255).toByte
    }
    val encHq = Jpeg.encode(16, 16, 3, checker, quality = 100)
    val dHq = Jpeg.decode(encHq).get
    assert(dHq._1 == 16 && dHq._2 == 16 && dHq._3 == 3)
    // clamping a single coefficient still reconstructs a recognizable
    // checkerboard: every pixel lands on the correct side of mid-gray
    val hqOk = checker.indices.count { i =>
      ((checker(i) & 0xFF) < 128) == ((dHq._4(i) & 0xFF) < 128)
    }
    assert(hqOk >= checker.length * 9 / 10, s"checkerboard: $hqOk/${checker.length}")
    // grayscale worst case exercises the same clamp on the luma-only path
    val gChecker = Array.tabulate(8 * 8)(i => (if ((i % 8 + i / 8) % 2 == 0) 0 else 255).toByte)
    assert(Jpeg.decode(Jpeg.encode(8, 8, 1, gChecker, quality = 100)).nonEmpty)
  }

  test("gzip codec: round-trip, unicode, corrupt payloads, bomb cap") {
    import java.nio.charset.StandardCharsets.UTF_8
    // byte-exact round trip, including empty and multi-byte UTF-8
    for (s <- Seq("", "hello world", "café 中文 😀", "a" * 100000)) {
      val got = Multimodal.gunzipBytes(Multimodal.gzipBytes(s.getBytes(UTF_8)))
      assert(got.map(new String(_, UTF_8)).contains(s))
    }
    // deterministic bytes (fixed header, deterministic DEFLATE)
    assert(Multimodal.gzipBytes("abc".getBytes(UTF_8)).toSeq ==
      Multimodal.gzipBytes("abc".getBytes(UTF_8)).toSeq)
    // non-gzip and truncated payloads -> None, not exceptions
    assert(Multimodal.gunzipBytes("plain text".getBytes(UTF_8)).isEmpty)
    assert(Multimodal.gunzipBytes(
      Multimodal.gzipBytes("hello world hello".getBytes(UTF_8)).dropRight(6)).isEmpty)
    // bomb cap: refuse to inflate past maxLen
    assert(Multimodal.gunzipBytes(
      Multimodal.gzipBytes(("x" * 10000).getBytes(UTF_8)), maxLen = 100).isEmpty)
    // DataFrame plumbing: corrupt rows keep their id with null text
    val payloads = Seq(
      (1L, 10L, Multimodal.gzipBytes("ok".getBytes(UTF_8))),
      (2L, 3L, "bad".getBytes(UTF_8)))
      .toDF("media_id", "gz_len", "payload")
    val out = Multimodal.gunzipText(payloads).orderBy("media_id").collect()
    assert(out(0).getString(2) == "ok" && out(0).getLong(1) == 2L)
    assert(out(1).isNullAt(2) && out(1).getLong(1) == -1L)
    // n_chars counts code points (DuckDB len() semantics), not UTF-16
    // units: "a😀b" is 3 code points but 4 UTF-16 chars
    val emoji = Seq((3L, 5L, Multimodal.gzipBytes("a😀b".getBytes(UTF_8))))
      .toDF("media_id", "gz_len", "payload")
    val eRow = Multimodal.gunzipText(emoji).collect()(0)
    assert(eRow.getLong(1) == 3L, s"n_chars=${eRow.getLong(1)} want 3 (code points)")
  }

  test("real PPM decode: header, dimensions, luminance histogram") {
    // 2x2 P6: black, white, red, blue
    val header = "P6\n2 2\n255\n".getBytes("US-ASCII")
    val pixels = Array(0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255).map(_.toByte)
    val ppm = header ++ pixels
    val m = Multimodal.decodeAuto(7L, ppm)
    assert(m.format == "ppm" && m.width == 2 && m.height == 2 && m.channels == 3)
    // luminance bins: black=0→b0, blue=29→b0, red=76→b2, white=255→b7
    assert(m.features.toSeq == Seq(0.5f, 0f, 0.25f, 0f, 0f, 0f, 0f, 0.25f))
    // comments and malformed input handled
    val commented = ("P6\n# a comment\n2 2\n255\n").getBytes("US-ASCII") ++ pixels
    assert(Multimodal.decodePpm(8L, commented).exists(_.width == 2))
    assert(Multimodal.decodePpm(9L, "P6\n2 2\n255\n".getBytes("US-ASCII")).isEmpty) // truncated raster
  }

  test("real PNG decode: encoder round-trip, dimensions, luminance histogram") {
    // same 2x2 image as the PPM test: black, white, red, blue
    val pixels = Array(0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255).map(_.toByte)
    val png = Multimodal.encodePng(2, 2, 3, pixels)
    val m = Multimodal.decodeAuto(7L, png)
    assert(m.format == "png" && m.width == 2 && m.height == 2 && m.channels == 3)
    // identical luminance bins to the PPM decode of the same pixels
    assert(m.features.toSeq == Seq(0.5f, 0f, 0.25f, 0f, 0f, 0f, 0f, 0.25f))
    // grayscale, gray+alpha, and RGBA color types round-trip too
    val gray = Multimodal.decodePng(1L, Multimodal.encodePng(3, 1, 1,
      Array(0, 128, 255).map(_.toByte))).get
    assert(gray.channels == 1 && gray.features.toSeq ==
      Seq(1f / 3, 0f, 0f, 0f, 1f / 3, 0f, 0f, 1f / 3))
    assert(Multimodal.decodePng(2L, Multimodal.encodePng(2, 1, 2,
      Array(10, 255, 200, 0).map(_.toByte))).exists(d =>
      d.channels == 2 && d.features(0) == 0.5f && d.features(6) == 0.5f))
    assert(Multimodal.decodePng(3L, Multimodal.encodePng(1, 2, 4,
      Array(255, 0, 0, 255, 0, 0, 255, 0).map(_.toByte))).exists(_.channels == 4))
  }

  test("PNG scanline filters sub/up/average/paeth decode to the same pixels") {
    // deterministic 5x4 RGB image; forward-filter each row with filter f
    // and assert the decode equals the filter-0 decode of the same pixels
    val w = 5; val h = 4; val ch = 3
    val pixels = Array.tabulate(w * h * ch)(i => ((i * 37 + 11) % 256).toByte)
    val baseline = Multimodal.decodePng(1L, Multimodal.encodePng(w, h, ch, pixels)).get
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (f <- 1 to 4) {
      val stride = w * ch
      val raw = new Array[Byte]((stride + 1) * h)
      for (y <- 0 until h) {
        raw(y * (stride + 1)) = f.toByte
        for (x <- 0 until stride) {
          val cur = pixels(y * stride + x) & 0xFF
          val left = if (x >= ch) pixels(y * stride + x - ch) & 0xFF else 0
          val up = if (y > 0) pixels((y - 1) * stride + x) & 0xFF else 0
          val ul = if (x >= ch && y > 0) pixels((y - 1) * stride + x - ch) & 0xFF else 0
          val filtered = f match {
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - ((left + up) >> 1)
            case 4 => cur - paeth(left, up, ul)
          }
          raw(y * (stride + 1) + 1 + x) = (filtered & 0xFF).toByte
        }
      }
      // assemble a PNG around the hand-filtered raw stream (the decoder
      // does not validate CRCs, so zero CRCs are fine here)
      def be32(v: Int) = Array(((v >>> 24) & 0xFF).toByte, ((v >>> 16) & 0xFF).toByte,
        ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
      def chunk(typ: String, data: Array[Byte]) =
        be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(0)
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val buf = new Array[Byte](8192)
      val z = new java.io.ByteArrayOutputStream()
      while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
      defl.end()
      val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
        chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)) ++
        chunk("IDAT", z.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
      val m = Multimodal.decodePng(1L, png)
      assert(m.nonEmpty, s"filter $f failed to decode")
      assert(m.get.features.toSeq == baseline.features.toSeq,
        s"filter $f decoded different pixels")
    }
  }

  test("palette PNG resolves indices through PLTE to the same histogram") {
    // 2x2 palette image with the same colors as the RGB round-trip test:
    // indices [0,1,2,3] → black, white, red, blue ⇒ identical luminance bins
    def be32(v: Int) = Array(((v >>> 24) & 0xFF).toByte, ((v >>> 16) & 0xFF).toByte,
      ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def chunk(typ: String, data: Array[Byte]) =
      be32(data.length) ++ typ.getBytes("US-ASCII") ++ data ++ be32(0)
    val raw = Array[Byte](0, 0, 1, 0, 2, 3) // 2 rows: filter 0 + 2 indices
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](1024)
    val z = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    defl.end()
    val plte = Array(0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255).map(_.toByte)
    val png = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", be32(2) ++ be32(2) ++ Array[Byte](8, 3, 0, 0, 0)) ++
      chunk("PLTE", plte) ++
      chunk("IDAT", z.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    val m = Multimodal.decodePng(11L, png)
    assert(m.nonEmpty, "palette PNG failed to decode")
    assert(m.get.width == 2 && m.get.height == 2 && m.get.channels == 3)
    assert(m.get.features.toSeq == Seq(0.5f, 0f, 0.25f, 0f, 0f, 0f, 0f, 0.25f))
    // palette image without PLTE, or an index past the palette, is corrupt
    val noPlte = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
      chunk("IHDR", be32(2) ++ be32(2) ++ Array[Byte](8, 3, 0, 0, 0)) ++
      chunk("IDAT", z.toByteArray) ++ chunk("IEND", Array.emptyByteArray)
    assert(Multimodal.decodePng(12L, noPlte).isEmpty)
  }

  test("PNG malformed input falls back instead of failing") {
    val ok = Multimodal.encodePng(2, 2, 3,
      Array.tabulate(12)(i => (i * 20).toByte))
    assert(Multimodal.decodePng(1L, ok.dropRight(20)).isEmpty) // truncated
    val interlaced = ok.clone(); interlaced(8 + 4 + 4 + 12) = 1 // Adam7 flag
    assert(Multimodal.decodePng(1L, interlaced).isEmpty)
    val depth16 = ok.clone(); depth16(8 + 4 + 4 + 8) = 16.toByte
    assert(Multimodal.decodePng(1L, depth16).isEmpty)
    assert(Multimodal.decodePng(1L, "not a png at all".getBytes).isEmpty)
    // dispatch still yields a row (stub fallback), never a crash
    assert(Multimodal.decodeAuto(1L, interlaced).format.nonEmpty)
  }

  test("real GIF decode: LZW round-trip, dimensions, palette histogram") {
    // same 2x2 colors as the PNG/PPM tests via a 4-entry palette:
    // black, white, red, blue -> identical luminance bins
    val pal = Array(0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 0, 255).map(_.toByte)
    val gif = Multimodal.encodeGif(2, 2, pal, Array[Byte](0, 1, 2, 3))
    val m = Multimodal.decodeAuto(7L, gif)
    assert(m.format == "gif" && m.width == 2 && m.height == 2 && m.channels == 3)
    assert(m.features.toSeq == Seq(0.5f, 0f, 0.25f, 0f, 0f, 0f, 0f, 0.25f))

    // a large repetitive image exercises dictionary growth across code
    // widths and the KwKwK case; histogram = exact index frequencies
    val w = 101; val h = 53
    val idxs = Array.tabulate(w * h)(i => ((i * i + i / 7) % 4).toByte)
    val counts = idxs.groupBy(_.toInt).view.mapValues(_.length).toMap
    val big = Multimodal.decodeGif(8L, Multimodal.encodeGif(w, h, pal, idxs)).get
    assert(big.width == w && big.height == h)
    val n = (w * h).toFloat
    // palette luminances: 0 -> bin0, 255 -> bin7, red(76) -> bin2, blue(29) -> bin0
    assert(big.features(7) == counts(1) / n)
    assert(big.features(2) == counts(2) / n)
    assert(big.features(0) == (counts(0) + counts(3)) / n)

    // 256-color palette forces an 8-bit min code (9-bit initial width)
    val pal256 = Array.tabulate(256 * 3)(i => ((i * 31) % 256).toByte)
    val idx256 = Array.tabulate(64 * 64)(i => (i % 256).toByte)
    val full = Multimodal.decodeGif(9L, Multimodal.encodeGif(64, 64, pal256, idx256)).get
    assert(full.width == 64 && full.features.sum > 0.999f && full.features.sum < 1.001f)
  }

  test("GIF malformed input falls back instead of failing") {
    val pal = Array.tabulate(4 * 3)(i => (i * 20).toByte)
    val ok = Multimodal.encodeGif(4, 4, pal, Array.tabulate(16)(i => (i % 4).toByte))
    assert(Multimodal.decodeGif(1L, ok.dropRight(8)).isEmpty)  // truncated
    assert(Multimodal.decodeGif(1L, ok.take(13)).isEmpty)      // header only
    assert(Multimodal.decodeGif(1L, "GIF8 not really".getBytes).isEmpty)
    // a GCT-less file whose frame also has no LCT cannot resolve colors
    val noTables = ok.clone(); noTables(10) = (noTables(10) & 0x7F).toByte
    assert(Multimodal.decodeGif(1L, noTables).isEmpty)
    // dispatch still yields a row (stub fallback), never a crash
    assert(Multimodal.decodeAuto(1L, ok.dropRight(8)).format.nonEmpty)
  }

  test("real WAV decode: PCM samples, rate, frames, RMS envelope") {
    def le16(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    def le32(v: Int) = Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    // mono 16-bit PCM @8kHz, 8 samples at half amplitude
    val samples = Array.fill(8)(16384).flatMap(le16)
    val wav = "RIFF".getBytes ++ le32(36 + samples.length) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(samples.length) ++ samples
    val m = Multimodal.decodeAuto(5L, wav)
    assert(m.format == "wav" && m.width == 8000 && m.height == 8 && m.channels == 1)
    assert(m.features.forall(f => math.abs(f - 0.5f) < 1e-4))
    // non-PCM falls back through None (caller stubs)
    val bad = wav.clone(); bad(20) = 3 // fmt code 3 = float, unsupported
    assert(Multimodal.decodeWav(5L, bad).isEmpty)
  }

  test("mixed-modality batch decode dispatches per payload") {
    val ppm = ("P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array(255, 255, 255).map(_.toByte))
    val txt = "just some text bytes".getBytes("UTF-8")
    val df = Seq((1L, ppm), (2L, txt)).toDF("media_id", "payload")
    val rows = Multimodal.decode(df).collect().sortBy(_.media_id)
    assert(rows(0).format == "ppm" && rows(0).width == 1)
    assert(rows(1).format == "bin") // stub fallback
  }

  test("dHash: identical images collide, small edits stay close, different images far") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def rndPx(seed: Int, n: Int) = Array.tabulate(n) { i =>
      md.reset(); md.digest(s"$seed:$i".getBytes("UTF-8"))(0)
    }
    val a = Multimodal.PixelImage(8, 8, 3, rndPx(1, 192))
    val b = Multimodal.PixelImage(8, 8, 3, rndPx(2, 192))
    val ha = Multimodal.dHash64(a)
    // determinism + identical images -> identical hash
    assert(ha == Multimodal.dHash64(Multimodal.PixelImage(8, 8, 3, rndPx(1, 192))))
    // unrelated random images -> far apart (64 coin flips, expect ~32)
    assert(java.lang.Long.bitCount(ha ^ Multimodal.dHash64(b)) > 10)
    // one-channel +8 edit -> within a few bits
    val edited = a.pixels.clone(); edited(33) = ((edited(33) & 0xFF) + 8).toByte
    val he = Multimodal.dHash64(Multimodal.PixelImage(8, 8, 3, edited))
    assert(java.lang.Long.bitCount(ha ^ he) <= 3)
    // scale invariance under NN upsampling: a 16x16 NN blow-up samples the
    // same source pixels on the 9x8 grid -> identical hash
    val up = Multimodal.resizeNearest(a, 16, 16)
    assert(Multimodal.dHash64(up) == ha)
    // grayscale path uses the gray value directly
    val g = Multimodal.PixelImage(8, 8, 1, rndPx(3, 64))
    assert(Multimodal.dHash64(g) != 0L)
    // DataFrame plumbing: PNG payloads decode and hash; junk rows drop
    val png = Multimodal.encodePng(8, 8, 3, a.pixels)
    val out = Multimodal.dHashes(Seq((1L, png), (2L, "junk".getBytes("UTF-8")))
      .toDF("media_id", "payload")).collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L && out(0).getLong(1) == ha)
  }

  test("audio fingerprint: deterministic, edit-local, far for unrelated clips") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def clip(seed: Int, n: Int) = Array.tabulate[Short](n) { i =>
      md.reset()
      val d = md.digest(s"t:$seed:$i".getBytes("UTF-8"))
      ((((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) - 32768).toShort
    }
    val a = Multimodal.encodeWav(8000, 1, clip(1, 300))
    val b = Multimodal.encodeWav(8000, 1, clip(2, 300))
    val ha = Multimodal.audioHash64(a).get
    assert(ha == Multimodal.audioHash64(Multimodal.encodeWav(8000, 1, clip(1, 300))).get)
    // unrelated random clips -> far apart
    assert(java.lang.Long.bitCount(ha ^ Multimodal.audioHash64(b).get) > 10)
    // one-sample +16 edit -> within a few bits
    val edited = clip(1, 300); edited(37) = (edited(37) + 16).toShort
    val he = Multimodal.audioHash64(Multimodal.encodeWav(8000, 1, edited)).get
    assert(java.lang.Long.bitCount(ha ^ he) <= 3)
    // non-PCM payloads yield None; DataFrame plumbing drops them
    assert(Multimodal.audioHash64("not audio".getBytes("UTF-8")).isEmpty)
    val out = Multimodal.audioHashes(Seq((1L, a), (2L, "junk".getBytes("UTF-8")))
      .toDF("media_id", "payload")).collect()
    assert(out.length == 1 && out(0).getLong(1) == ha)
  }

  test("png tEXt: planted chunks round-trip; decoder survives junk") {
    val px = Array.fill[Byte](12)(7)
    val png = Multimodal.encodePng(2, 2, 3, px,
      Seq("Source" -> "crawl-3", "License" -> "cc0"))
    assert(Multimodal.decodePngText(png) ==
      Seq("Source" -> "crawl-3", "License" -> "cc0"))
    // text chunks don't disturb pixel decoding
    assert(Multimodal.decodePngPixels(png).isDefined)
    // no chunks, non-PNG, truncated: all empty, never throw
    assert(Multimodal.decodePngText(Multimodal.encodePng(2, 2, 3, px)).isEmpty)
    assert(Multimodal.decodePngText("not a png".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodePngText(png.take(20)).isEmpty)
    // latin-1 values survive; NUL-less keyword enforced
    val l1 = Multimodal.encodePng(2, 2, 3, px, Seq("Author" -> "café"))
    assert(Multimodal.decodePngText(l1) == Seq("Author" -> "café"))
    intercept[IllegalArgumentException] {
      Multimodal.encodePng(2, 2, 3, px, Seq("" -> "x"))
    }
    // value guards: a NUL would truncate on decode, non-latin-1 would
    // mangle to '?' — both refused loudly instead of corrupting
    intercept[IllegalArgumentException] {
      Multimodal.encodePng(2, 2, 3, px, Seq("K" -> ("a" + 0.toChar + "b")))
    }
    intercept[IllegalArgumentException] {
      Multimodal.encodePng(2, 2, 3, px, Seq("K" -> "日本語"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.encodePng(2, 2, 3, px, Seq("日本語" -> "v"))
    }
  }

  test("image quality stats: flat image scores zero range and energy") {
    // flat gray 4x4 -> every grid cell identical: range 0, edge energy 0
    val flat = Multimodal.encodePng(4, 4, 1, Array.fill[Byte](16)(100))
    // hard checkerboard -> maximal per-cell contrast, nonzero energy
    val check = Multimodal.encodePng(4, 4, 1,
      Array.tabulate[Byte](16)(i => if ((i + i / 4) % 2 == 0) 0 else 255.toByte))
    val rs = Multimodal.imageQualityStats(
      Seq((1L, flat), (2L, check), (3L, "junk".getBytes("UTF-8")))
        .toDF("media_id", "payload")).collect().map(q => q.media_id -> q).toMap
    assert(rs.size == 2) // junk dropped
    val f = rs(1L)
    assert(f.lum_min == 100 && f.lum_max == 100 && f.edge_energy == 0L)
    assert(f.lum_sum == 72L * 100 && f.lum_sq_sum == 72L * 100 * 100)
    val c = rs(2L)
    assert(c.lum_min == 0 && c.lum_max == 255 && c.edge_energy > 0L)
    assert(c.width == 4 && c.height == 4)
  }

  test("audio quality stats: exact integer silence/clip/energy audit") {
    // hand-built clip: 3 silent samples, 2 mid, 1 clipped — every stat
    // checkable by hand
    val samples = Array[Short](0, 500, -1023, 2000, -5000, 32600)
    val wav = Multimodal.encodeWav(8000, 1, samples)
    val r = Multimodal.audioQualityStats(
      Seq((7L, wav), (8L, "junk".getBytes("UTF-8"))).toDF("media_id", "payload"))
      .collect()
    assert(r.length == 1) // non-PCM dropped
    val q = r(0)
    assert(q.media_id == 7L && q.n_samples == 6)
    assert(q.sum_abs == 0L + 500 + 1023 + 2000 + 5000 + 32600)
    assert(q.sum_sq == samples.map(s => math.abs(s.toInt).toLong *
      math.abs(s.toInt)).sum)
    assert(q.peak == 32600 && q.n_silence == 3L && q.n_clip == 1L)
    // Short.MinValue must not overflow the abs
    val extreme = Multimodal.audioQualityStats(
      Seq((1L, Multimodal.encodeWav(8000, 1, Array[Short](Short.MinValue))))
        .toDF("media_id", "payload")).collect()(0)
    assert(extreme.peak == 32768 && extreme.n_clip == 1L)
  }

  test("resize clamps dimensions; frame sampling emits strided chunks") {
    val df = Seq((1L, "x" * 4000)).toDF("doc_id", "text")
    val payloads = Multimodal.withPayload(df, "doc_id", "text")
    val resized = Multimodal.resize(payloads, 32, 32).collect()(0)
    assert(resized.width <= 32 && resized.height <= 32)
    assert(resized.payload.length <= 4000)
    val frames = Multimodal.sampleFrames(payloads, frameBytes = 256, stride = 5)
      .collect()
    // 4000/256 = 15 chunks, strided by 5 → frames 0, 5, 10
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 5, 10))
    assert(frames.forall(_.payload.length <= 256))
    assert(frames(1).ts_ms == (5 * 1000 / 30.0).toLong)
  }
}

class ResizeSpec extends SparkSpec {
  import spark.implicits._
  import graft.multimodal.Multimodal

  test("nearest-neighbor resample picks exact source pixels") {
    // 4x4 grayscale ramp 0..15; 2x2 nearest picks (0,0),(0,2),(2,0),(2,2)
    val px = Array.tabulate(16)(_.toByte)
    val img = Multimodal.PixelImage(4, 4, 1, px)
    assert(Multimodal.resizeNearest(img, 2, 2).pixels.toSeq == Seq[Byte](0, 2, 8, 10))
    // identity target returns the same pixels
    assert(Multimodal.resizeNearest(img, 4, 4).pixels.toSeq == px.toSeq)
    // upscale duplicates source pixels deterministically: 2x2 -> 4x4
    val small = Multimodal.PixelImage(2, 2, 1, Array[Byte](1, 2, 3, 4))
    assert(Multimodal.resizeNearest(small, 4, 4).pixels.toSeq ==
      Seq[Byte](1, 1, 2, 2, 1, 1, 2, 2, 3, 3, 4, 4, 3, 3, 4, 4))
  }

  test("fitWithin never upscales and floors the non-limiting axis") {
    assert(Multimodal.fitWithin(4, 4, 8, 8) == ((4, 4)))    // already fits
    assert(Multimodal.fitWithin(16, 4, 8, 8) == ((8, 2)))   // width-limited
    assert(Multimodal.fitWithin(4, 16, 8, 8) == ((2, 8)))   // height-limited
    assert(Multimodal.fitWithin(1000, 1, 8, 8) == ((8, 1))) // min-1 floor
    assert(Multimodal.fitWithin(9, 9, 8, 8) == ((8, 8)))    // square: width branch
  }

  test("resize really resamples decodable payloads and re-encodes PNG") {
    // 4x4 RGB PPM with distinct per-pixel colors; fit 2x2 picks pixels
    // (0,0),(0,2),(2,0),(2,2) — all three channels of each
    val srcPx = Array.tabulate(4 * 4 * 3)(i => (i * 5 + 1).toByte)
    val ppm = "P6\n4 4\n255\n".getBytes("US-ASCII") ++ srcPx
    // RGBA PNG 2x2: already fits 2x2 (no-op fast path, re-encode only)
    val rgbaPx = Array.tabulate(2 * 2 * 4)(i => (100 + i).toByte)
    val rgba = Multimodal.encodePng(2, 2, 4, rgbaPx)
    val txt = "just text".getBytes("UTF-8")
    val df = Seq((1L, ppm), (2L, rgba), (3L, txt)).toDF("media_id", "payload")
    val rows = Multimodal.resize(df, 2, 2).collect().sortBy(_.media_id)

    assert(rows(0).format == "png" && rows(0).width == 2 && rows(0).height == 2)
    val out0 = Multimodal.decodePixels(rows(0).payload).get
    assert(out0.channels == 3)
    def px3(r: Int, c: Int): Seq[Byte] =
      (0 until 3).map(ch => srcPx((r * 4 + c) * 3 + ch))
    assert(out0.pixels.toSeq == (px3(0, 0) ++ px3(0, 2) ++ px3(2, 0) ++ px3(2, 2)))

    // fits already: dimensions and pixels unchanged, 4 channels preserved
    assert(rows(1).format == "png" && rows(1).width == 2 && rows(1).height == 2)
    val out1 = Multimodal.decodePixels(rows(1).payload).get
    assert(out1.channels == 4 && out1.pixels.toSeq == rgbaPx.toSeq)

    // opaque payload falls back to the stub, honestly labeled
    assert(rows(2).format == "bin")

    // RGBA downscale to 1x1: keeps pixel (0,0), all 4 channels
    val one = Multimodal.resize(Seq((4L, rgba)).toDF("media_id", "payload"), 1, 1)
      .collect()(0)
    assert(one.width == 1 && one.height == 1)
    assert(Multimodal.decodePixels(one.payload).get.pixels.toSeq ==
      rgbaPx.take(4).toSeq)
  }

  test("GIF pixels resolve through the color table and resize end to end") {
    val pal = Array.tabulate(16 * 3)(i => (i * 3 + 5).toByte)
    val idxs = Array.tabulate(4 * 2)(i => (i % 16).toByte)
    val gif = Multimodal.encodeGif(4, 2, pal, idxs)
    val img = Multimodal.decodePixels(gif).get
    assert(img.width == 4 && img.height == 2 && img.channels == 3)
    val expected = idxs.flatMap(ci =>
      Seq(pal(ci * 3), pal(ci * 3 + 1), pal(ci * 3 + 2)))
    assert(img.pixels.toSeq == expected.toSeq)
    // 4x2 fit into 2x1 is width-limited: (2, 1)
    val row = Multimodal.resize(Seq((1L, gif)).toDF("media_id", "payload"), 2, 1)
      .collect()(0)
    assert(row.format == "png" && row.width == 2 && row.height == 1)
    assert(Multimodal.decodePixels(row.payload).get.pixels.toSeq ==
      (expected.slice(0, 3) ++ expected.slice(6, 9)).toSeq)
  }

  test("palette PNG pixels resolve through PLTE to RGB") {
    // hand-crafted colorType-3 PNG, 2x1: indices 0,1 resolve through
    // PLTE to (10,20,30), (40,50,60)
    def be32(v: Long): Array[Byte] = Array(
      ((v >>> 24) & 0xFF).toByte, ((v >>> 16) & 0xFF).toByte,
      ((v >>> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val body = typ.getBytes("US-ASCII") ++ data
      val c = new java.util.zip.CRC32(); c.update(body)
      be32(data.length.toLong) ++ body ++ be32(c.getValue)
    }
    val raw = Array[Byte](0, 0, 1) // filter 0, then indices 0, 1
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val buf = new Array[Byte](64)
    val z = new java.io.ByteArrayOutputStream()
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    defl.end()
    val png =
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte) ++
        chunk("IHDR", be32(2) ++ be32(1) ++
          Array[Byte](8, 3, 0, 0, 0)) ++ // depth 8, colorType 3 (palette)
        chunk("PLTE", Array[Byte](10, 20, 30, 40, 50, 60)) ++
        chunk("IDAT", z.toByteArray) ++
        chunk("IEND", Array.emptyByteArray)
    val resolved = Multimodal.decodePngPixels(png).get
    assert(resolved.width == 2 && resolved.height == 1 && resolved.channels == 3)
    assert(resolved.pixels.toSeq == Seq[Byte](10, 20, 30, 40, 50, 60))
    // and the resize path carries palette images end to end
    val row = Multimodal.resize(Seq((9L, png)).toDF("media_id", "payload"), 1, 1)
      .collect()(0)
    assert(row.format == "png" && row.width == 1 && row.height == 1)
    assert(Multimodal.decodePixels(row.payload).get.pixels.toSeq ==
      Seq[Byte](10, 20, 30))
  }
}

class FrameSampleSpec extends SparkSpec {
  import spark.implicits._
  import graft.multimodal.Multimodal

  test("WAV encode/decode round-trip with exact pcm summary") {
    val samples = Array.tabulate[Short](10)(i => (i * 1000 - 4000).toShort)
    val wav = Multimodal.encodeWav(8000, 2, samples)
    val meta = Multimodal.decodeWav(1L, wav).get
    assert(meta.format == "wav" && meta.width == 8000 &&
      meta.height == 5 && meta.channels == 2)
    val (rate, ch, frames, sum) = Multimodal.pcmSummary(wav).get
    assert((rate, ch, frames) == ((8000, 2, 5)))
    assert(sum == samples.map(_.toLong).sum)
  }

  test("frame decimation keeps every k-th frame exactly") {
    // stereo: frames are sample PAIRS; k=2 keeps frames 0,2,4 ->
    // flat samples 0,1,4,5,8,9
    val samples = Array.tabulate[Short](12)(_.toShort) // 6 frames x 2ch
    val wav = Multimodal.encodeWav(44100, 2, samples)
    val (src, out, rate, sampled) = Multimodal.sampleWavFrames(wav, 2).get
    assert(src == 6 && out == 3 && rate == 22050)
    val (_, _, decFrames, decSum) = Multimodal.pcmSummary(sampled).get
    assert(decFrames == 3 && decSum == Seq(0, 1, 4, 5, 8, 9).sum)
    // k=1 reproduces the canonical file byte-for-byte
    val (_, o1, r1, same) = Multimodal.sampleWavFrames(wav, 1).get
    assert(o1 == 6 && r1 == 44100 && same.toSeq == wav.toSeq)
    // ceil on a frame count k does not divide: 7 frames at k=3 -> 0,3,6
    val w2 = Multimodal.encodeWav(8000, 1, Array.tabulate[Short](7)(_.toShort))
    val (s2, o2, _, sampled2) = Multimodal.sampleWavFrames(w2, 3).get
    assert(s2 == 7 && o2 == 3)
    assert(Multimodal.pcmSummary(sampled2).get._4 == 0L + 3 + 6)
  }

  test("decimateFrames dispatches wav vs opaque byte stub") {
    val wav = Multimodal.encodeWav(8000, 1, Array.tabulate[Short](9)(_.toShort))
    val txt = "abcdefghij".getBytes("UTF-8")
    val df = Seq((1L, wav), (2L, txt)).toDF("media_id", "payload")
    val rows = Multimodal.decimateFrames(df, 3).collect().sortBy(_.media_id)
    assert(rows(0).format == "wav" && rows(0).src_frames == 9 &&
      rows(0).frames == 3 && rows(0).rate == 2666)
    assert(rows(1).format == "bin" && rows(1).src_frames == 10 && rows(1).frames == 4)
    assert(rows(1).payload.toSeq == "adgj".getBytes("UTF-8").toSeq)
  }
}

class ShingleKernelSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.TextAnalysis

  test("shingle kernel matches the expression formulation on edge cases") {
    val df = Seq(
      "the quick brown fox jumps",
      "one two",     // fewer tokens than n → one short shingle
      "solo",        // single token
      "",            // empty → empty array
      "  spaced\t tokens \n here  "
    ).toDF("text")
    // reference formulation (the interpreted HOF chain this kernel replaced)
    val toks = TextAnalysis.tokens(col("text"))
    val ref = filter(
      transform(sequence(lit(0), greatest(size(toks) - 3, lit(0))),
        i => array_join(slice(toks, i + 1, lit(3)), " ")),
      s => length(s) > 0)
    val rows = df.select(
      graft.functions.WordShingles(col("text"), 3).as("fast"), ref.as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }
}

class AsofJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.AsofJoin

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof join attaches most recent right row; ties match; no-match is null") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3") // before any right row
    ).toDF("k", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 200.0), // exact tie with p2
      (2L, ts("2024-01-01 11:00:00"), 300.0)
    ).toDF("k", "ts", "v")
    val out = AsofJoin.asof(left, right, "k", "ts", "ts")
      .orderBy("name").collect()
    assert(out(0).getAs[Double]("asof_v") == 100.0) // p1 ← 09:30 row
    assert(out(1).getAs[Double]("asof_v") == 200.0) // p2 ← tie matches
    assert(out(2).isNullAt(out(2).fieldIndex("asof_v"))) // p3 ← nothing before
  }

  test("forward direction matches the nearest following right row") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "c1"),
      (1L, ts("2024-01-01 13:00:00"), "c2") // after all right rows
    ).toDF("k", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),  // before → never matched forward
      (1L, ts("2024-01-01 10:00:00"), 2.0),  // tie → matched
      (1L, ts("2024-01-01 12:00:00"), 4.0)
    ).toDF("k", "ts", "v")
    val out = AsofJoin.asof(left, right, "k", "ts", "ts",
        direction = "forward").orderBy("name").collect()
    assert(out(0).getAs[Double]("asof_v") == 2.0) // c1 ← tie at 10:00
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v"))) // c2 ← nothing after
  }

  test("right payload columns come from the same matched row") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "ts")
    // most recent right row has a NULL payload field — a per-column
    // last(ignoreNulls) would resurrect 'a' from the older row
    val right = Seq(
      (1L, ts("2024-01-01 08:00:00"), Option("old"), Option(1.0)),
      (1L, ts("2024-01-01 09:00:00"), None: Option[String], Option(2.0))
    ).toDF("k", "ts", "tag", "v")
    val out = AsofJoin.asof(left, right, "k", "ts", "ts").collect()(0)
    assert(out.isNullAt(out.fieldIndex("asof_tag")))
    assert(out.getAs[Double]("asof_v") == 2.0)
  }

  test("asofNearest picks the smaller gap either side; ties prefer backward") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "closerBefore"),  // 30m back vs 2h fwd
      (1L, ts("2024-01-01 11:45:00"), "closerAfter"),   // 2h15 back vs 15m fwd
      (2L, ts("2024-01-01 10:00:00"), "tie"),           // 1h back == 1h fwd
      (3L, ts("2024-01-01 10:00:00"), "onlyFwd"),
      (4L, ts("2024-01-01 10:00:00"), "none")
    ).toDF("k", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0),
      (2L, ts("2024-01-01 09:00:00"), 3.0),
      (2L, ts("2024-01-01 11:00:00"), 4.0),
      (3L, ts("2024-01-01 10:30:00"), 5.0)
    ).toDF("k", "ts", "v")
    val out = AsofJoin.asofNearest(left, right, "k", "ts", "ts")
      .collect().map(r => r.getAs[String]("name") ->
        ((Option(r.getAs[java.lang.Double]("near_v")).map(_.toDouble),
          r.getAs[String]("near_dir"),
          Option(r.getAs[java.lang.Long]("near_gap_us")).map(_.toLong)))).toMap
    assert(out("closerBefore") == ((Some(1.0), "backward", Some(1800000000L))))
    assert(out("closerAfter") == ((Some(2.0), "forward", Some(900000000L))))
    assert(out("tie") == ((Some(3.0), "backward", Some(3600000000L))))
    assert(out("onlyFwd") == ((Some(5.0), "forward", Some(1800000000L))))
    assert(out("none") == ((None, null, None)))
  }

  test("duplicate (key, ts) right rows resolve to the minimum struct") {
    // two clicks at the identical instant: the oracle ranks candidates
    // by (gap, dir, id ASC), so id=10 must win on every leg — backward,
    // forward, and the nearest composition
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "p")).toDF("k", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 20L, 9.0),
      (1L, ts("2024-01-01 09:00:00"), 10L, 1.0),
      (1L, ts("2024-01-01 11:00:00"), 40L, 9.0),
      (1L, ts("2024-01-01 11:00:00"), 30L, 2.0)
    ).toDF("k", "ts", "id", "v")
    val b = AsofJoin.asof(left, right, "k", "ts", "ts",
      rightCols = Seq("id", "v")).collect()(0)
    assert(b.getAs[Long]("asof_id") == 10L && b.getAs[Double]("asof_v") == 1.0)
    val f = AsofJoin.asof(left, right, "k", "ts", "ts",
      rightCols = Seq("id", "v"), direction = "forward").collect()(0)
    assert(f.getAs[Long]("asof_id") == 30L && f.getAs[Double]("asof_v") == 2.0)
    val n = AsofJoin.asofNearest(left, right, "k", "ts", "ts",
      rightCols = Seq("id", "v")).collect()(0)
    assert(n.getAs[Long]("near_id") == 10L && n.getAs[String]("near_dir") == "backward")
  }
}

class SketchSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.ColumnProfiler

  test("HLL sketches merge to the global distinct count") {
    val df = (1 to 5000).map(i => (i % 7, s"user${i % 400}")).toDF("g", "u")
    val sketches = ColumnProfiler.distinctSketches(df, "g", "u")
    assert(sketches.count() == 7)
    val est = ColumnProfiler.mergeSketches(sketches)
      .collect()(0).getLong(0)
    // HLL estimate of 400 exact distincts: generous 5% tolerance
    assert(math.abs(est - 400L) <= 20, s"estimate $est")
  }
}

class StreamingAgentSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("streaming recipe: processors + sink fan-out per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    graft.plugins.Registries.populate()
    val out = java.nio.file.Files.createTempDirectory("stream-sink")
      .resolve("out.ndjson").toString
    val mem = MemoryStream[(Long, String)]
    val agent = new graft.agent.Agent(spark)
    val assetStream = mem.toDF().toDF("id", "name")
      .withColumn("properties", struct(
        array().cast("array<string>").as("tags"),
        map().cast("map<string,string>").as("labels"),
        lit("{}").as("attributes")))
    val q = agent.runStreaming(
      assetStream,
      processorSpecs = Seq(graft.recipe.PluginSpec("enrich",
        Map("env" -> "test"))),
      sinkSpecs = Seq(graft.recipe.PluginSpec("file",
        Map("path" -> out, "format" -> "ndjson", "overwrite" -> "false"))))
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      val lines = scala.io.Source.fromFile(out).getLines().toSeq
      assert(lines.length == 3)
      // attributes is a JSON string field, so its quotes arrive escaped
      assert(lines.forall(_.contains("""\"env\":\"test\"""")))
    } finally q.stop()
  }

  test("streaming recipe: an invalid sink spec fails before the query " +
      "starts") {
    implicit val sqlCtx = spark.sqlContext
    graft.plugins.Registries.populate()
    val mem = MemoryStream[(Long, String)]
    val before = spark.streams.active.length
    val err = intercept[graft.plugins.ConfigException] {
      new graft.agent.Agent(spark).runStreaming(mem.toDF(),
        processorSpecs = Nil,
        sinkSpecs = Seq(graft.recipe.PluginSpec("bm25-index", Map.empty)))
    }
    assert(err.errors.exists(_.key == "sink/bm25-index/index_path"),
      err.getMessage)
    assert(spark.streams.active.length == before)
  }

  test("streaming recipe: a failing sink records a failure metric and is " +
      "closed, and the next sink still runs") {
    implicit val sqlCtx = spark.sqlContext
    graft.plugins.Registries.populate()
    if (!graft.plugins.Registries.sinks.contains(FailingSink.info.name))
      graft.plugins.Registries.sinks.register(FailingSink)
    val out = java.nio.file.Files.createTempDirectory("stream-fail")
      .resolve("out.ndjson").toString
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val monitor = new graft.agent.Monitor {
      def recordRun(run: graft.agent.RunResult): Unit = ()
      def recordPlugin(recipeName: String, pluginName: String,
                       pluginType: String, success: Boolean): Unit =
        metrics.add(s"$recipeName/$pluginName/$pluginType/$success")
    }
    val closedBefore = FailingSink.closed.get()
    val mem = MemoryStream[(Long, String)]
    val q = new graft.agent.Agent(spark, monitor = monitor).runStreaming(
      mem.toDF().toDF("id", "name"), processorSpecs = Nil,
      sinkSpecs = Seq(graft.recipe.PluginSpec(FailingSink.info.name, Map.empty),
        graft.recipe.PluginSpec("file",
          Map("path" -> out, "format" -> "ndjson", "overwrite" -> "false"))),
      queryName = "failing-stream")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(metrics.contains(
      s"failing-stream/${FailingSink.info.name}/sink/false"), metrics)
    assert(metrics.contains("failing-stream/file/sink/true"), metrics)
    assert(FailingSink.closed.get() == closedBefore + 1)
    assert(scala.io.Source.fromFile(out).getLines().length == 2)
  }
}

/** A sink that always fails and counts its closes. */
object FailingSink extends graft.plugins.SinkPlugin {
  val info: graft.plugins.PluginInfo =
    graft.plugins.PluginInfo("failing-test-sink", "always fails")
  val closed = new java.util.concurrent.atomic.AtomicInteger()
  def sink(df: org.apache.spark.sql.DataFrame,
           config: Map[String, Any]): Long =
    throw new IllegalStateException("failing-test-sink always fails")
  override def close(): Unit = { closed.incrementAndGet(); () }
}

class IvfLayoutSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Similarity

  test("centroid assignment doubles as a pruned physical layout") {
    val vecs = (0 until 100).map(i =>
      (i.toLong, Array(i % 4 * 10.0, 1.0))).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(0.0, 1.0), Seq(10.0, 1.0), Seq(20.0, 1.0), Seq(30.0, 1.0))
    val dir = java.nio.file.Files.createTempDirectory("ivf").resolve("t").toString
    Similarity.assignCentroids(vecs, "embedding", centroids)
      .write.partitionBy("centroid_id").parquet(dir)

    val probe = spark.read.parquet(dir).filter(col("centroid_id") === 2)
    // the probe must read ONE partition directory, not scan-and-filter
    val scan = probe.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters"))
    assert(scan.contains("centroid_id"), scan)
    assert(probe.count() == 25)
    assert(probe.select("vec_id").as[Long].collect().forall(_ % 4 == 2))
  }
}

class CanonicalizeSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalize kernel matches the nfc+regex formulation bit-for-bit") {
    val df = Seq(
      "  Hello\t\tWorld \r\n",
      "already canonical",
      "MiXeDCase\f\fhere",
      "",
      "   \t  ",
      "Caf\u00e9 composed",
      "Cafe\u0301 decomposed",
      "A\u030angstro\u0308m units"
    ).toDF("text")
    val rows = df.select(
      graft.functions.CanonicalizeText(col("text")).as("fast"),
      lower(regexp_replace(trim(
        graft.functions.NormalizeNfc(col("text"))), "\\s+", " ")).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1), r))
  }

  test("canonically-equivalent duplicates get ONE fingerprint (the NFC " +
      "composition the round-10 exact gate provably missed)") {
    // same logical document, NFC vs NFD spellings: pre-NFC canonicalize
    // hashed these to DIFFERENT digests and the exact-dedup gate waved
    // the duplicate through
    val df = Seq(
      (1L, "Caf\u00e9  au   lait"),      // composed e-acute
      (2L, "cafe\u0301 au lait"),        // decomposed e + U+0301
      (3L, "completely different text")
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
        graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L),
      s"decomposed duplicate escaped the fingerprint: ${fps(1L)} vs ${fps(2L)}")
    assert(fps(1L) != fps(3L))
  }
}

class SkewSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Skew

  test("salted join equals the plain join") {
    val big = (1 to 500).map(i => (i % 3, i)).toDF("k", "v")   // hot keys 0,1,2
    val small = Seq((0, "a"), (1, "b"), (9, "z")).toDF("k", "tag")
    val expected = big.join(small, Seq("k")).orderBy("v").collect()
    val got = Skew.saltedJoin(big, small, Seq("k"), salt = 8)
      .orderBy("v").collect()
    assert(got.length == expected.length)
    assert(got.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
  }

  test("salted two-phase distinct sets equal direct collect_set") {
    val df = (1 to 300).map(i => (i % 2, s"v${i % 7}")).toDF("k", "v")
    val got = Skew.saltedDistinctSets(df, "k", "v", salt = 4)
      .orderBy("k").collect()
    val direct = df.groupBy("k")
      .agg(array_sort(collect_set(col("v"))).as("values"))
      .orderBy("k").collect()
    assert(got.map(_.getSeq[String](1)).toSeq == direct.map(_.getSeq[String](1)).toSeq)
  }
}

class TriangleSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.LinkRank

  test("triangle census: K4, direction/self-loop/duplicate hygiene") {
    // K4 has C(4,3)=4 triangles and 4·C(3,2)/... wedges per orientation;
    // feed DIRECTED duplicates, reversed edges, and self-loops — the
    // canonicalization must collapse them all to the 6 undirected edges
    val e = Seq((0L,1L),(1L,0L),(0L,2L),(0L,3L),(1L,2L),(2L,1L),(1L,3L),
      (2L,3L),(3L,3L),(0L,0L),(2L,3L)).toDF("src","dst")
    val r = LinkRank.triangles(e).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // a path graph has wedges but no triangle
    val p = Seq((0L,1L),(1L,2L),(2L,3L)).toDF("src","dst")
    val rp = LinkRank.triangles(p).collect()(0)
    assert(rp.getAs[Long]("n_wedges") > 0L)
    assert(rp.getAs[Long]("n_triangles") == 0L)
  }
}

class RangeJoinSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.RangeJoin

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("bucketed interval join matches exact window, no duplicate pairs") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (2L, ts("2024-01-01 10:30:00"), "p2")
    ).toDF("k", "ts", "name")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),  // exactly lower bound → included
      (1L, ts("2024-01-01 09:59:59"), 2.0),  // inside
      (1L, ts("2024-01-01 10:00:00"), 4.0),  // == left ts → excluded (upper exclusive)
      (1L, ts("2024-01-01 08:59:59"), 8.0),  // before window
      (2L, ts("2024-01-01 10:15:00"), 16.0)  // other key, inside its window
    ).toDF("k", "ts", "v")
    val out = RangeJoin.withinInterval(left, right, "k", "ts", "ts",
        lowerOffsetMs = -3600000L, upperOffsetMs = 0L)
      .groupBy("name").agg(sum("r_v").as("s"), count(lit(1)).as("n"))
      .orderBy("name").collect()
    assert(out(0).getAs[Double]("s") == 3.0 && out(0).getAs[Long]("n") == 2L)
    assert(out(1).getAs[Double]("s") == 16.0 && out(1).getAs[Long]("n") == 1L)
  }

  test("window spanning many buckets still produces each pair once") {
    val left = Seq((1L, ts("2024-01-01 12:00:00"))).toDF("k", "ts")
    val right = (0 until 12).map(h =>
      (1L, ts(f"2024-01-01 $h%02d:30:00"), 1.0)).toDF("k", "ts", "v")
    // 6-hour lookback over 1-hour buckets → probes 7 buckets
    val out = RangeJoin.withinInterval(left, right, "k", "ts", "ts",
      lowerOffsetMs = -6L * 3600000L, upperOffsetMs = 0L).collect()
    assert(out.length == 6) // 06:30 .. 11:30
  }

  test("keyless overlap join: each overlapping pair exactly once across bucket layouts") {
    // intervals in plain longs; bucket width 10. Pairs overlap across
    // MULTIPLE shared buckets — the canonical-bucket rule must still emit
    // each exactly once. Brute-force theta join is the truth.
    val left = Seq((1L, 0L, 35L), (2L, 12L, 14L), (3L, 40L, 41L), (4L, 90L, 95L))
      .toDF("lid", "ls", "le")
    val right = Seq((10L, 5L, 25L), (11L, 13L, 60L), (12L, 96L, 99L), (13L, 70L, 80L))
      .toDF("rid", "rs", "re")
    for (bucket <- Seq(3L, 10L, 100L)) {
      val got = RangeJoin.overlapJoin(left, "ls", "le", right, "rs", "re", bucket)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      val truth = left.crossJoin(right)
        .filter(col("ls") <= col("re") && col("rs") <= col("le"))
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      assert(got == truth, s"bucket=$bucket got=$got truth=$truth")
      assert(got.size == got.distinct.size, s"bucket=$bucket duplicates")
    }
  }
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming decontamination drops contaminated docs, passes clean ones") {
    implicit val sqlCtx = spark.sqlContext
    val eval = Seq((100L, "we ask about the quick brown fox jumps question"))
      .toDF("id", "text")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = EventStream.streamingDecontaminate(docs, "text", eval, "text", n = 4)
      .writeStream.format("memory").queryName("decon")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, "the quick brown fox jumps over the lazy dog"), // shares a 4-gram
        (2L, "completely unrelated content with no overlap at all here"),
        (3L, "short text"))                                  // < n tokens, clean
      q.processAllAvailable()
      mem.addData((4L, "we ask about the quick brown fox too")) // shares one
      q.processAllAvailable()
      val kept = spark.table("decon").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(2L, 3L))
    } finally q.stop()
  }

  test("stream-stream click attribution == batch range join over split batches") {
    implicit val sqlCtx = spark.sqlContext
    val pm = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cm = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val pDf = pm.toDF().toDF("event_id", "user_id", "ts")
    val cDf = cm.toDF().toDF("event_id", "user_id", "ts", "value")
    val q = EventStream.streamingClickAttribution(pDf, cDf, "30 minutes")
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      cm.addData((10L, 7L, ts("2024-01-01 00:00:00"), 1.0))
      pm.addData((1L, 7L, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // a matching click arriving a BATCH AFTER its purchase still joins
      // (both sides buffer state until the watermark evicts)
      cm.addData((11L, 7L, ts("2024-01-01 00:05:00"), 2.0),
        (12L, 7L, ts("2024-01-01 02:00:00"), 3.0), // outside the window
        (13L, 9L, ts("2024-01-01 00:09:00"), 4.0)) // other user
      pm.addData((2L, 8L, ts("2024-01-01 00:20:00"))) // user with no clicks
      q.processAllAvailable()
      val got = spark.table("attr").select("purchase_id", "click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // == the batch spelling: user match ∧ click in [purchase−30m, purchase]
      assert(got == Set((1L, 10L), (1L, 11L)))
    } finally q.stop()
  }

  test("streaming throttle-dedup == batch throttleDedup over uneven micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val gap = 60L * 1000000 // 1 minute in micros
    val raw = Seq(
      (1L, 7L, "click", ts("2024-01-01 00:00:00")),
      (2L, 7L, "click", ts("2024-01-01 00:00:30")),  // < gap after 1 → drop
      (3L, 7L, "click", ts("2024-01-01 00:00:50")),  // < gap after 2 → drop
      (4L, 7L, "click", ts("2024-01-01 00:02:00")),  // >= gap after 3 → keep
      (5L, 7L, "view",  ts("2024-01-01 00:00:10")),  // other type: keep
      (6L, 8L, "click", ts("2024-01-01 00:00:20")),  // other user: keep
      (7L, 8L, "click", ts("2024-01-01 00:01:30")))  // >= gap after 6 → keep
    val batchDf = raw.toDF("event_id", "user_id", "event_type", "ts")
    val expected = graft.operators.Sessionize.throttleDedup(batchDf, "user_id", "event_type",
        "event_id", "ts", gap)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(expected == Set(1L, 4L, 5L, 6L, 7L)) // drop rule sanity
    // uneven splits CROSSING the drop chain: state must carry event 2's
    // and 3's timestamps (dropped events still advance the predecessor)
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val events = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val q = EventStream.streamingThrottle(events, gap)
      .writeStream.format("memory").queryName("throttle")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(raw(0), raw(1))
      q.processAllAvailable()
      mem.addData(raw(2))
      q.processAllAvailable()
      mem.addData(raw(3), raw(4), raw(5))
      q.processAllAvailable()
      mem.addData(raw(6))
      q.processAllAvailable()
      val streamed = spark.table("throttle")
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(streamed == expected)
    } finally q.stop()
  }

  test("watermarked windowed rollup over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStream.windowedRollup(events, "1 hour", "2 hours")
      .writeStream.format("memory").queryName("rollup")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:10:00"), "click", 1.0),
        (ts("2024-01-01 00:40:00"), "click", 2.0),
        (ts("2024-01-01 01:10:00"), "view", 5.0))
      q.processAllAvailable()
      val out = spark.table("rollup")
        .select(col("window.start").cast("string").as("w"), col("event_type"), col("n"), col("value_sum"))
        .orderBy("w", "event_type").collect()
      assert(out.length == 2)
      assert(out(0).getAs[Long]("n") == 2L && out(0).getAs[Double]("value_sum") == 3.0)
      assert(out(1).getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("session windows close on gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = EventStream.sessionWindows(events, "30 minutes", "2 hours")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:00:00"), 1L, 1.0),
        (ts("2024-01-01 00:10:00"), 1L, 1.0),
        (ts("2024-01-01 02:00:00"), 1L, 1.0)) // gap > 30min → second session
      q.processAllAvailable()
      val out = spark.table("sessions").collect()
      assert(out.length == 2)
      assert(out.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming corpus intake gates quality and scrubs PII on the fly") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val good = (1 to 15).map(i => s"distinct$i").mkString(" ") +
      " reach me at a@b.example.com please"
    val short = "too short"
    val loop = "spam spam " * 40 // repetition ratio ~1
    val q = EventStream.corpusIntake(docs, minTokens = 10)
      .writeStream.format("memory").queryName("intake")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, good), (2L, short), (3L, loop))
      q.processAllAvailable()
      val out = spark.table("intake").collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
      val text = out(0).getAs[String]("text")
      assert(text.contains("<EMAIL>") && !text.contains("a@b.example.com"))
      assert(out(0).getAs[String]("fp").length == 32) // md5 of the SCRUBBED text
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrence, drops in-stream repeats") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long)]
    val events = mem.toDF().toDF("ts", "fp", "doc_id")
    val q = EventStream.streamingDedup(events, Seq("fp"), "ts", "1 hour")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (ts("2024-01-01 00:00:00"), "aaa", 1L),
        (ts("2024-01-01 00:05:00"), "aaa", 2L), // dup within watermark
        (ts("2024-01-01 00:10:00"), "bbb", 3L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:20:00"), "aaa", 4L)) // still within watermark
      q.processAllAvailable()
      val out = spark.table("dedup").orderBy("doc_id").collect()
      assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming corpus intake equals its batch twin on sf0.01") {
    // batch-equivalence pin: the SAME corpusIntake transform, run once as
    // a batch job and once incrementally over micro-batches, must produce
    // the identical result set — the one-logical-definition claim the
    // streaming operators are built on, checked on real driver testdata
    implicit val sqlCtx = spark.sqlContext
    val load = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val docs = load.as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.corpusIntake(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("intake_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      // three uneven micro-batches so batch boundaries cut the corpus
      docs.grouped(180).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val cols = Seq("doc_id", "text", "n_tokens", "rep_ratio", "fp")
      val streamed = spark.table("intake_eq")
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val batch = EventStream.corpusIntake(load)
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && batch.size < docs.length) // the gate really gates
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming gzip + HTML extraction equals its batch twin on sf0.01") {
    // crawl-intake shape: gzipped HTML payloads arrive on a stream and run
    // decode → extract incrementally; the SAME one-logical-definition
    // pipeline run as a batch job must produce the identical result set
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    import graft.operators.TextAnalysis
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), concat(lit("<p class=\"b\">"), col("text"),
        lit(" &amp; tail</p><!-- trail -->")).as("html"))
    def pipeline(payloads: org.apache.spark.sql.DataFrame) =
      Multimodal.gunzipText(payloads)
        .select(col("media_id"), TextAnalysis.htmlText(col("text")).as("clean"))
    val packed = Multimodal.gzipColumn(docs, "doc_id", "html")
      .as[(Long, Long, Array[Byte])].collect()
    val mem = MemoryStream[(Long, Long, Array[Byte])]
    val q = pipeline(mem.toDF().toDF("media_id", "gz_len", "payload"))
      .writeStream.format("memory").queryName("gzhtml_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      packed.grouped(70).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("gzhtml_eq").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      val batch = pipeline(Multimodal.gzipColumn(docs, "doc_id", "html"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(batch.size == 200 && batch.forall(_._2.endsWith("& tail")))
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming decontamination equals the batch complement on sf0.01") {
    // same split as the d_decontaminate oracle query: every 100th doc is
    // the eval set. Streamed survivors must equal corpus minus the docs
    // the batch operator flags (hits >= 1 ⇔ shares any 4-gram).
    implicit val sqlCtx = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val eval = all.filter(col("doc_id") % 100 === 0)
    val corpusRows = all.filter(col("doc_id") % 100 =!= 0).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingDecontaminate(
        mem.toDF().toDF("doc_id", "text"), "text", eval, "text", n = 4)
      .writeStream.format("memory").queryName("decon_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      corpusRows.grouped(200).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamedKept = spark.table("decon_eq")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val flagged = graft.operators.Dedup.decontaminate(
          all.filter(col("doc_id") % 100 =!= 0), "doc_id", "text", eval, "text", n = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flagged.nonEmpty) // the eval set really contaminates something
      assert(streamedKept == corpusRows.map(_._1).toSet -- flagged)
    } finally q.stop()
  }

  test("streaming incremental LSH ingest equals the batch gate on sf0.01") {
    // the d_lsh_incremental split: docs < 250 are the stored band index,
    // docs >= 250 arrive as a stream in UNEVEN micro-batches. Survivors
    // accumulated across batches must equal the batch operator run once
    // on the whole arrival set — the batch-split invariance the stored-
    // index semi-join shape guarantees (decisions never depend on other
    // stream docs).
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val indexBands = Dedup.portableBands(
      Dedup.portableMinhash(all.filter(col("doc_id") < 250), "doc_id", "text",
        k = 8), "doc_id", k = 8, bands = 4)
      .localCheckpoint() // the stored index: materialized once, reused per batch
    val arrivals = all.filter(col("doc_id") >= 250).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStream.streamingLshIngest(
        mem.toDF().toDF("doc_id", "text"), indexBands, "doc_id", "text") {
      kept => survivors ++= kept.collect().map(_.getLong(0))
    }.start()
    try {
      // uneven micro-batches: 97 + 97 + 56 arrivals
      arrivals.grouped(97).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Dedup.lshIngest(all.filter(col("doc_id") >= 250), indexBands,
        "doc_id", "text").collect().map(_.getLong(0)).toSet
      assert(batch.nonEmpty && batch.size < arrivals.length) // the gate really gates
      assert(survivors.size == survivors.toSet.size) // no doc emitted twice
      assert(survivors.toSet == batch)
    } finally q.stop()
  }

  test("streaming card maintenance is batch-split invariant and equals rescan") {
    // v1 -> v2 edit stream (the d_corpus_diff derivation) in uneven
    // micro-batches; the folded index must equal BOTH the one-shot batch
    // applyDelta AND a full rebuild from v2
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DataCard
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val v1 = docs.filter(col("doc_id") % 23 =!= 0)
    val v2 = docs.filter(col("doc_id") % 29 =!= 0)
      .withColumn("text", when(col("doc_id") % 31 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
    val diff = graft.operators.Dedup.snapshotDiff(v1, v2, "doc_id", "text")
      .filter(col("status") =!= "unchanged")
    val removed = v1.join(diff.filter(col("status").isin("removed", "changed"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val added = v2.join(diff.filter(col("status").isin("added", "changed"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    val edits = removed.withColumn("op", lit("remove"))
      .unionByName(added.withColumn("op", lit("add")))
      .select("op", "doc_id", "lang", "source", "text")
      .as[(String, Long, String, String, String)].collect()
    val idx1 = DataCard.cardIndex(v1, "lang", "source", "text").localCheckpoint()
    val mem = MemoryStream[(String, Long, String, String, String)]
    var last: Option[org.apache.spark.sql.DataFrame] = None
    val q = EventStream.streamingCardMaintain(
        mem.toDF().toDF("op", "doc_id", "lang", "source", "text"),
        "op", "lang", "source", "text", idx1) { st => last = Some(st) }
      .start()
    try {
      edits.grouped(7).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("lang", "source", "fp", "cnt", "tok")
        .collect().map(_.toSeq).toSet
      val streamed = canon(last.get)
      assert(streamed == canon(DataCard.applyDelta(idx1,
        removed.drop("doc_id"), added.drop("doc_id"), "lang", "source", "text")))
      assert(streamed == canon(DataCard.cardIndex(v2, "lang", "source", "text")))
    } finally q.stop()
  }

  test("streaming winnow span-reuse gate equals the batch gate on sf0.01") {
    // docs < 250 are the stored fingerprint index, docs >= 250 stream in
    // uneven micro-batches; accumulated survivors must equal the batch
    // winnowIngest run once on all arrivals (decisions depend only on
    // the frozen index)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val indexFps = Dedup.winnowFingerprints(
        all.filter(col("doc_id") < 250), "doc_id", "text")
      .select(col("fp")).distinct()
      .localCheckpoint()
    val arrivals = all.filter(col("doc_id") >= 250).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStream.streamingWinnowIngest(
        mem.toDF().toDF("doc_id", "text"), indexFps, "doc_id", "text") {
      kept => survivors ++= kept.collect().map(_.getLong(0))
    }.start()
    try {
      arrivals.grouped(89).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Dedup.winnowIngest(all.filter(col("doc_id") >= 250),
        indexFps, "doc_id", "text").collect().map(_.getLong(0)).toSet
      assert(batch.size < arrivals.length) // the gate really gates
      assert(survivors.size == survivors.toSet.size)
      assert(survivors.toSet == batch)
    } finally q.stop()
  }

  test("streaming drift monitor equals the batch operator per source") {
    // freeze the corpus top-100 reference, stream each source's docs as
    // one micro-batch: the per-batch JS must equal the batch operator's
    // row for that source (identical arithmetic by construction)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val ref = TextAnalysis.driftReference(docs, "text").localCheckpoint()
    val batchRows = TextAnalysis.sourceDrift(docs, "text", "source")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val srcs = Seq("src0", "src7", "src19")
    val mem = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = EventStream.streamingDrift(
        mem.toDF().toDF("doc_id", "text", "source"), "text", ref) {
      out => got ++= out.collect().map(r => (r.getLong(1), r.getLong(2)))
    }.start()
    try {
      srcs.foreach { sName =>
        val rows = docs.filter(col("source") === sName)
          .as[(Long, String, String)].collect()
        mem.addData(rows.toIndexedSeq: _*); q.processAllAvailable()
      }
      assert(got.size == srcs.size)
      srcs.zip(got).foreach { case (sName, (js, nt)) =>
        assert((js, nt) == batchRows(sName), s"source $sName")
      }
    } finally q.stop()
  }

  test("streaming CDC block gate equals the batch gate on sf0.01") {
    // docs < 250 freeze the chunk-fp index; docs >= 250 stream in uneven
    // micro-batches — accumulated survivors must equal one batch
    // cdcIngest run (decisions depend only on the frozen index)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextAnalysis
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val idx = TextAnalysis.cdcChunks(all.filter(col("doc_id") < 250),
        "doc_id", "text")
      .select(col("fp")).distinct().localCheckpoint()
    val arrivals = all.filter(col("doc_id") >= 250).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStream.streamingCdcIngest(
        mem.toDF().toDF("doc_id", "text"), idx, "doc_id", "text") {
      kept => survivors ++= kept.collect().map(_.getLong(0))
    }.start()
    try {
      arrivals.grouped(83).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = TextAnalysis.cdcIngest(all.filter(col("doc_id") >= 250),
        idx, "doc_id", "text").collect().map(_.getLong(0)).toSet
      assert(batch.size < arrivals.length) // the gate really gates
      assert(survivors.size == survivors.toSet.size)
      assert(survivors.toSet == batch)
    } finally q.stop()
  }

  test("streaming BM25 over frozen postings equals the batch operator, any batching") {
    // postings frozen on the sf0.001 corpus; 5 doc-as-query rows stream
    // in uneven micro-batches — accumulated top-10 rows must equal one
    // batch bm25TopKStored run (each query depends only on the store)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Retrieval
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("bm25stream").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", path, buckets = 4)
    val store = Retrieval.readBm25Store(spark, path)
    val queries = docs.filter(col("doc_id") < 5)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = EventStream.streamingBm25TopK(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        store, "doc_id") {
      out => got ++= out.collect().map(_.toSeq)
    }.start()
    try {
      queries.as[(Long, String)].collect().grouped(2)
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Retrieval.bm25TopKStored(store, queries,
        "doc_id", "doc_id", "text").collect().map(_.toSeq)
      assert(batch.nonEmpty && got.toSet == batch.toSet)
      assert(got.size == batch.length)
    } finally q.stop()
  }

  test("streaming ANN over a frozen IVF store equals the batch probe, " +
      "any batching") {
    // centroid-partitioned store frozen on the sf0.001 embeddings; 6
    // query vectors stream in uneven micro-batches — accumulated top-5
    // rows must equal one batch ivfTopKStored probe (each query depends
    // only on its own vector and the static store)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val seeds = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val unit = seeds.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val path = java.nio.file.Files.createTempDirectory("annstream").toString
    Similarity.writeIvfStore(emb, "vec_id", "embedding", unit, path)
    val store = spark.read.parquet(path)
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
    val mem = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = EventStream.streamingAnnTopK(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        store, unit, k = 5) {
      out => got ++= out.collect().map(_.toSeq)
    }.start()
    try {
      queries.as[(Long, Seq[Double])].collect().grouped(2)
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Similarity.ivfTopKStored(store, queries, "vec_id",
          "embedding", k = 5, coarse = unit, nprobe = 3,
          excludeSelf = false)
        .collect().map(_.toSeq)
      assert(batch.nonEmpty && got.toSet == batch.toSet)
      assert(got.size == batch.length)
    } finally q.stop()
  }

  test("streaming hybrid serving over two frozen stores equals the batch " +
      "fusion, any batching") {
    // BM25 postings + IVF layout both frozen on the sf0.001 corpus;
    // queries carrying BOTH modalities stream in uneven micro-batches —
    // accumulated fused top-10 rows must equal one batch RRF composition
    // (both stores static, each query's fusion self-contained)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Retrieval, Similarity}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val bpath = java.nio.file.Files
      .createTempDirectory("hybridstream_bm").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", bpath, buckets = 4)
    val bm25 = Retrieval.readBm25Store(spark, bpath)
    val seeds = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val unit = seeds.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val vpath = java.nio.file.Files
      .createTempDirectory("hybridstream_ivf").toString
    Similarity.writeIvfStore(emb, "vec_id", "embedding", unit, vpath)
    val ivf = spark.read.parquet(vpath)
    val queries = docs.join(emb, col("doc_id") === col("vec_id"))
      .filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text"),
        col("embedding").cast("array<double>"))
    val mem = MemoryStream[(Long, String, Seq[Double])]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = EventStream.streamingHybridTopK(
        mem.toDF().toDF("doc_id", "text", "embedding"), "doc_id", "text",
        "embedding", bm25, "doc_id", ivf, "vec_id", unit) {
      out => got ++= out.collect().map(_.toSeq)
    }.start()
    try {
      queries.as[(Long, String, Seq[Double])].collect().grouped(2)
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val bmLeg = Retrieval.bm25TopKStored(bm25, queries, "doc_id",
          "doc_id", "text")
        .select(col("q_id"), col("rnk"), col("doc_id"))
      val dLeg = Similarity.ivfTopKStored(ivf,
          queries.select(col("doc_id").as("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 10, coarse = unit, nprobe = 3,
          excludeSelf = false)
        .select(col("q_id"), col("rank").as("rnk"),
          col("c_id").as("doc_id"))
      val batch = Retrieval.rrfFuse(Seq(bmLeg, dLeg), "doc_id")
        .collect().map(_.toSeq)
      assert(batch.nonEmpty && got.toSet == batch.toSet)
      assert(got.size == batch.length)
    } finally q.stop()
  }

  test("streaming contrastive examples over frozen postings equal the " +
      "batch operator, any batching") {
    // chunk postings frozen on the sf0.001 corpus; documents stream in
    // uneven micro-batches — accumulated (anchor, positive, negatives)
    // records must equal one batch contrastiveExamples run (each doc's
    // examples depend only on its own text and the static store)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Retrieval, TextAnalysis}
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val chunks = TextAnalysis.slidingChunks(docs, "doc_id", "text",
        size = 16, stride = 8)
      .select((shiftleft(col("doc_id"), 20) + col("chunk_id")).as("cid"),
        col("chunk_text"))
    val path = java.nio.file.Files
      .createTempDirectory("contrastream").toString
    Retrieval.writeBm25Store(chunks, "cid", "chunk_text", path, buckets = 4)
    val store = Retrieval.readBm25Store(spark, path)
    val anchors = docs.filter(col("doc_id") < 5)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = EventStream.streamingContrastiveExamples(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", store) {
      out => got ++= out.collect().map(_.toSeq)
    }.start()
    try {
      anchors.as[(Long, String)].collect().grouped(2)
        .foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Retrieval.contrastiveExamples(anchors, store,
        "doc_id", "text").collect().map(_.toSeq)
      assert(batch.nonEmpty && got.toSet == batch.toSet)
      assert(got.size == batch.length)
    } finally q.stop()
  }

  test("stored LSH index gate is row-identical to the inline index path") {
    // the stored layout is a physical rearrangement of the same band
    // index, so the gate's survivor set must not move by a single row
    val inline = SparkEntry.queries("d_lsh_incremental")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    val stored = SparkEntry.queries("d_lsh_incremental_stored")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    assert(inline.nonEmpty && stored == inline)
  }

  test("stored fingerprint index gate is row-identical to the inline path") {
    val inline = SparkEntry.queries("d_dedup_incremental")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    val stored = SparkEntry.queries("d_dedup_incremental_stored")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    assert(inline.nonEmpty && stored == inline)
  }

  test("stored perceptual-hash index gate is row-identical to the inline path") {
    val inline = SparkEntry.queries("m_image_ingest")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    val stored = SparkEntry.queries("m_image_ingest_stored")(
      spark, "/root/testdata/sf0.001").collect().map(_.getLong(0)).toSeq
    assert(inline.nonEmpty && stored == inline)
  }

  test("streaming perceptual image ingest equals the batch gate") {
    // 500 planted PNGs (md5 pixels; ids b and b+250 near-identical, the
    // high copy perturbed by one channel): hashes of ids < 250 are the
    // stored index, ids >= 250 stream in over uneven micro-batches.
    // Survivors (no exact-hash duplicate in the index) must equal the
    // batch operator on the union — batch-split invariance again.
    implicit val sqlCtx = spark.sqlContext
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    val mdGlobal = java.security.MessageDigest.getInstance("MD5")
    def png(id: Long): Array[Byte] = {
      val base = id % 250
      val px = Array.tabulate(8 * 8 * 3) { i =>
        mdGlobal.reset()
        mdGlobal.digest(s"$base:$i".getBytes("UTF-8"))(0)
      }
      if (id >= 250) {
        val i0 = 3 * (id % 64).toInt
        px(i0) = ((px(i0) & 0xFF) + 8).toByte
      }
      Multimodal.encodePng(8, 8, 3, px)
    }
    val all = (0L until 500L).map(id => (id, png(id)))
    val index = Multimodal.dHashes(
      all.take(250).toDF("media_id", "payload")).localCheckpoint()
    val arrivals = all.drop(250)
    val mem = MemoryStream[(Long, Array[Byte])]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = EventStream.streamingPerceptualIngest(
        mem.toDF().toDF("media_id", "payload"), index, maxHamming = 0) {
      kept => survivors ++= kept.collect().map(_.getLong(0))
    }.start()
    try {
      arrivals.grouped(95).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val batch = Dedup.perceptualIngest(
          Multimodal.dHashes(arrivals.toDF("media_id", "payload")), index,
          "media_id", "dhash", maxHamming = 0)
        .collect().map(_.getLong(0)).toSet
      // the +8 edits split arrivals: some flip a bit (survive hamming-0),
      // some don't (exact dup, dropped) — both classes must be non-empty
      assert(batch.nonEmpty && batch.size < arrivals.size)
      assert(survivors.size == survivors.toSet.size)
      assert(survivors.toSet == batch)
    } finally q.stop()
  }

  test("streaming IVF-store append: micro-batched ingest equals one-shot layout") {
    // the stored-ANN ingest path: a base store is written once, arrivals
    // stream in over UNEVEN micro-batches and append into its centroid
    // directories against the same frozen codebook. Stored-layout top-k
    // over the appended store must equal the same query over a store
    // written in ONE shot from the union — assignment depends only on
    // the codebook, so batch splits cannot change the layout.
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val unit = seeds.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_append")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    val baseSet = emb.filter(col("vec_id") % 3 === 0)
    Similarity.writeIvfStore(baseSet, "vec_id", "embedding", unit, streamed)
    // keep the streamed rows array<float> like the base store — a double
    // append would fork the parquet schema inside one layout
    val arrivals = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.streamingIvfAppend(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      unit, streamed).start()
    try {
      arrivals.grouped(37).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    Similarity.writeIvfStore(emb, "vec_id", "embedding", unit, oneShot)
    def topk(path: String) = Similarity.ivfTopKStored(
        spark.read.parquet(path), emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, coarse = unit, nprobe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    val a = topk(streamed)
    assert(a.nonEmpty && a == topk(oneShot))
  }

  test("streaming IVF forget: micro-batched tombstones equal one-shot compaction") {
    // the deletion mirror of the append pin: tombstones stream in over
    // uneven micro-batches and compact the store in place; the final
    // layout must equal ONE forgetIvfStoreAt call with every tombstone
    // (removal is an anti-join — idempotent and commutative)
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val seeds = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val unit = seeds.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_forget")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    Similarity.writeIvfStore(emb, "vec_id", "embedding", unit, streamed)
    Similarity.writeIvfStore(emb, "vec_id", "embedding", unit, oneShot)
    val tombs = emb.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val mem = MemoryStream[Long]
    val q = EventStream.streamingIvfForget(
      mem.toDF().toDF("vec_id"), "vec_id", streamed).start()
    try {
      tombs.grouped(13).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    import spark.implicits._
    Similarity.forgetIvfStoreAt(spark, oneShot,
      tombs.toSeq.toDF("vec_id"), "vec_id")
    def rows(path: String) = spark.read.parquet(path)
      .select(col("vec_id"), col("centroid_id")).collect().map(_.toSeq).toSet
    val a = rows(streamed)
    assert(a.nonEmpty && a == rows(oneShot))
    assert(a.size == emb.count() - tombs.length)
  }

  test("streaming IVF forget on a PQ codes store erases the erased ids' " +
      "exact vectors from the recorded rerank sidecar too") {
    // the codes store records its rerank sidecar; a tombstone stream that
    // names no sidecar must still leave no erased doc's exact vector
    // fetchable from it
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = (0 until 120).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 7 + j * 3) % 11 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq2_sforget")
    val path = tmp.resolve("codes").toString
    val rrk = tmp.resolve("vectors").toString
    graft.sinks.IvfIndexSink.sink(emb, Map("index_path" -> path,
      "quantize" -> "pq", "rerank_store_path" -> rrk, "pq_m" -> 4,
      "pq_k" -> 8))
    assert(Similarity.rerankLinkAt(spark, path).contains(Some(rrk)))
    val tombs = emb.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id")).collect().map(_.getLong(0))
    val mem = MemoryStream[Long]
    val q = EventStream.streamingIvfForget(
      mem.toDF().toDF("vec_id"), "vec_id", path).start()
    try {
      tombs.grouped(13).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    def ids(p: String) = spark.read.parquet(p).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    val all = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(ids(path) == all -- tombs)
    val fetchable = ids(rrk) intersect tombs.toSet
    assert(fetchable.isEmpty, "erased ids left fetchable from the rerank " +
      s"sidecar: ${fetchable.toSeq.sorted.take(5)}")
    assert(ids(rrk) == all -- tombs)
  }

  test("streaming BM25 forget: micro-batched tombstones equal one-shot " +
      "erasure on the postings store") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Retrieval
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_bm25_sforget")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    Retrieval.writeBm25Store(docs, "doc_id", "text", streamed, buckets = 4)
    Retrieval.writeBm25Store(docs, "doc_id", "text", oneShot, buckets = 4)
    val tombs = docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val mem = MemoryStream[Long]
    val q = EventStream.streamingBm25Forget(
      mem.toDF().toDF("doc_id"), "doc_id", streamed).start()
    try {
      tombs.grouped(17).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    import spark.implicits._
    Retrieval.forgetBm25StoreAt(spark, oneShot,
      tombs.toSeq.toDF("doc_id"), "doc_id")
    def rows(p: String) = {
      val st = Retrieval.readBm25Store(spark, p)
      (st.postings.collect().map(_.toSeq).toSet,
        st.dfreq.collect().map(_.toSeq).toSet,
        st.stats.collect().map(_.toSeq).toSet)
    }
    val a = rows(streamed)
    assert(a._1.nonEmpty && a == rows(oneShot))
  }

  test("streaming winnow forget: micro-batched tombstones equal one-shot " +
      "refcount erasure") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_winnow_sforget")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    Dedup.writeWinnowStoreAt(spark, streamed, docs, "doc_id", "text")
    Dedup.writeWinnowStoreAt(spark, oneShot, docs, "doc_id", "text")
    val tombs = docs.filter(col("doc_id") % 7 === 3)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val mem = MemoryStream[Long]
    val q = EventStream.streamingWinnowForget(
      mem.toDF().toDF("doc_id"), "doc_id", streamed).start()
    try {
      tombs.grouped(19).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    import spark.implicits._
    Dedup.forgetWinnowStoreAt(spark, oneShot,
      tombs.toSeq.toDF("doc_id"), "doc_id")
    def rows(p: String, t: String) =
      spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSet
    val a = rows(streamed, "fps")
    assert(a.nonEmpty && a == rows(oneShot, "fps"))
    assert(rows(streamed, "docs") == rows(oneShot, "docs"))
  }

  test("streaming NB forget: micro-batched tombstones retrain to the " +
      "one-shot unlearned store bit-for-bit") {
    // the fourth streaming-erasure arm (bm25/ivf/winnow/nb): weights are
    // rounded functions of exact integer counts and counts subtract, so
    // any micro-batching of the tombstone feed must land the same model
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Classify
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nb_sforget")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    Classify.writeNbStore(docs, "doc_id", "text", "lang", streamed)
    Classify.writeNbStore(docs, "doc_id", "text", "lang", oneShot)
    val tombs = docs.filter(col("doc_id") % 7 === 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val q = EventStream.streamingNbForget(
      mem.toDF().toDF("doc_id", "text", "lang"),
      "doc_id", "text", "lang", streamed).start()
    try {
      tombs.grouped(23).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    import spark.implicits._
    Classify.forgetNbStoreAt(spark, oneShot,
      tombs.toSeq.toDF("doc_id", "text", "lang"), "doc_id", "text", "lang")
    def rows(p: String, t: String) =
      spark.read.parquet(s"$p/$t").collect().map(_.toSeq).toSet
    val a = rows(streamed, "model")
    assert(a.nonEmpty && a == rows(oneShot, "model"))
    assert(rows(streamed, "base") == rows(oneShot, "base"))
    assert(rows(streamed, "docs") == rows(oneShot, "docs"))
  }

  test("streaming TWO-LEVEL IVF append: micro-batched ingest equals one-shot layout") {
    // the two-level store's ingest parity, mirroring the flat pin above:
    // kernel assignment depends only on the frozen TwoLevelCodebook, so
    // uneven micro-batch appends must produce the same layout — and the
    // same stored-query answers — as one write of the union
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val unitAll = Similarity.normalized(emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("__u")), "__u")
    val tops = unitAll.filter(col("vec_id") < 3).orderBy(col("vec_id"))
      .select(col("__u")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cb = Similarity.TwoLevelCodebook(tops, tops.map(Seq(_)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf2_append")
    val streamed = tmp.resolve("streamed").toString
    val oneShot = tmp.resolve("oneshot").toString
    Similarity.writeIvfStoreTwoLevel(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", cb, streamed)
    val arrivals = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = EventStream.streamingIvfAppendTwoLevel(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cb, streamed).start()
    try {
      arrivals.grouped(41).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    Similarity.writeIvfStoreTwoLevel(emb, "vec_id", "embedding", cb, oneShot)
    def topk(path: String) = Similarity.ivfTopKStoredTwoLevel(
        spark.read.parquet(path), emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 3, cb, nprobeTop = 2, nprobe = 2)
      .orderBy("q_id", "rank").collect().toSeq
    val a = topk(streamed)
    assert(a.nonEmpty && a == topk(oneShot))
  }

  test("streaming frozen-LM scoring equals the batch operator on sf0.01") {
    // the d_lm_score_frozen split: vocab trained on even doc_ids, odd
    // doc_ids scored — streamed scores must equal the batch operator's
    // rows exactly (docs with no bigrams score zero in the stream and
    // are absent in batch; filtered for strict parity)
    implicit val sqlCtx = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val vocab = graft.operators.TextAnalysis.bigramVocab(
      all.filter(col("doc_id") % 2 === 0), "doc_id", "text", vocabSize = 500)
    val oddRows = all.filter(col("doc_id") % 2 === 1).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingLmScore(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", vocab)
      .writeStream.format("memory").queryName("lm_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      oddRows.grouped(90).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("lm_eq").filter(col("n_bigrams") > 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.operators.TextAnalysis.lmFamiliarity(
          all.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          vocab = Some(vocab))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(batch.nonEmpty && batch.exists(_._3 > 0)) // vocab really hits
      assert(streamed == batch)
    } finally q.stop()

    // tokenizer parity on control-char-edged scraped text: the stream UDF
    // must strip SPACES only (Java String.trim would eat the \u0001 and
    // turn a vocab miss into a hit)
    val edge = Seq((1L, "\u0001the cat sat"), (2L, "the cat sat"))
      .toDF("doc_id", "text")
    val vocab2 = Seq(("the cat", 5L), ("cat sat", 3L)).toDF("bigram", "c")
    val streamedEdge = EventStream.streamingLmScore(edge, "doc_id", "text", vocab2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchEdge = graft.operators.TextAnalysis.lmFamiliarity(
        edge, "doc_id", "text", vocab = Some(vocab2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamedEdge == batchEdge)
    assert(batchEdge.contains((1L, 2L, 1L, 3L))) // "the cat" misses, "cat sat" hits
  }

  test("streaming bloom decontamination never passes a contaminated doc") {
    // the one-sided-error contract on real driver testdata: every doc the
    // exact batch operator flags must be dropped by the streaming bloom
    // gate too (fpp only drops extra clean docs)
    implicit val sqlCtx = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val eval = all.filter(col("doc_id") % 100 === 0)
    val corpusRows = all.filter(col("doc_id") % 100 =!= 0).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingDecontaminateBloom(
        mem.toDF().toDF("doc_id", "text"), "text", eval, "text", n = 4,
        expectedGrams = 100000L, fpp = 0.001)
      .writeStream.format("memory").queryName("bloom_decon_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      corpusRows.grouped(200).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val passed = spark.table("bloom_decon_eq")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val flagged = graft.operators.Dedup.decontaminate(
          all.filter(col("doc_id") % 100 =!= 0), "doc_id", "text", eval, "text", n = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(flagged.nonEmpty)
      assert(passed.intersect(flagged).isEmpty,
        s"contaminated docs passed the bloom gate: ${passed.intersect(flagged).take(5)}")
      // and the over-drop stays a sliver at fpp=0.001
      val clean = corpusRows.map(_._1).toSet -- flagged
      assert((clean -- passed).size <= math.max(5, clean.size / 20),
        s"bloom over-dropped ${(clean -- passed).size} of ${clean.size} clean docs")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Event]
    val q = EventStream.statefulSessions(mem.toDS(),
        gapMs = 30 * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("stateful")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        EventStream.Event(1L, ts("2024-01-01 00:00:00"), 1.0),
        EventStream.Event(1L, ts("2024-01-01 00:10:00"), 2.0),
        EventStream.Event(1L, ts("2024-01-01 01:00:00"), 7.0))
      q.processAllAvailable()
      val out = spark.table("stateful").collect()
      // first session (2 events, sum 3.0) closed by the in-batch gap
      assert(out.length == 1)
      assert(out(0).getAs[Long]("n_events") == 2L)
      assert(out(0).getAs[Double]("value_sum") == 3.0)
      // another user's late-hour event advances the watermark past
      // 01:00 + gap → user 1's open session closes via event-time timeout
      mem.addData(EventStream.Event(2L, ts("2024-01-01 10:00:00"), 4.0))
      q.processAllAvailable()
      val out2 = spark.table("stateful").orderBy("user_id", "n_events").collect()
      assert(out2.length == 2)
      assert(out2(0).getAs[Long]("n_events") == 1L)
      assert(out2(0).getAs[Double]("value_sum") == 7.0)
    } finally q.stop()
  }

  test("streaming DSIR scores equal the batch pipeline against a frozen distribution") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Splits
    val target = (1L to 4L).map(i => (i, "en", "t", "curated curated corpus text"))
    val raw = Seq((10L, "en", "r", "curated corpus text sample"),
      (11L, "en", "r", "junk junk junk filler"),
      (12L, "fr", "r", "   "))
    val docs = (target ++ raw).toDF("doc_id", "lang", "source", "text")
    val ppm = Splits.dsirDistribution(docs, "text", col("source") === "t")
    val batchScores = Splits.dsirSelect(docs, "doc_id", "lang", "text",
        col("source") === "t")
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingDsirScore(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", ppm)
      .writeStream.format("memory").queryName("dsirscore")
      .outputMode(OutputMode.Append()).start()
    try {
      // uneven micro-batches, including the token-free doc
      mem.addData((10L, "curated corpus text sample"))
      q.processAllAvailable()
      mem.addData((11L, "junk junk junk filler"), (12L, "   "))
      q.processAllAvailable()
      val streamed = spark.table("dsirscore").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the JVM-side digest bucket must replay the SQL md5 bucket exactly
      assert(streamed == batchScores)
      assert(streamed(10L) > 0L && streamed(11L) < 0L && streamed(12L) == 0L)
    } finally q.stop()
  }

  test("streaming line-clean equals the batch rewrite against a frozen common set") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "keep one\nboiler\nkeep two"),
      (2L, "boiler\nkeep three"),
      (3L, "boiler"),
      (4L, "boiler\nkeep four")).toDF("doc_id", "text")
    val common = Dedup.commonLines(corpus, "doc_id", "text", minDocs = 3)
      .localCheckpoint()
    val batchOut = Dedup.lineDedupRewrite(corpus, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingLineClean(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", common)
      .writeStream.format("memory").queryName("lineclean")
      .outputMode(OutputMode.Append()).start()
    try {
      // uneven micro-batches, including the doc that empties out
      mem.addData((1L, "keep one\nboiler\nkeep two"))
      q.processAllAvailable()
      mem.addData((2L, "boiler\nkeep three"), (3L, "boiler"), (4L, "boiler\nkeep four"))
      q.processAllAvailable()
      val streamed = spark.table("lineclean").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batchOut)
      assert(!streamed.contains(3L)) // emptied doc dropped in both modes
    } finally q.stop()
  }

  test("streaming forget: tombstone-wins-forever makes the final index split-invariant") {
    implicit val sqlCtx = spark.sqlContext
    val initial = Seq((1L, "x"), (2L, "y")).toDF("id", "band")
    // the order trap: id 4's tombstone arrives BEFORE its add — per-batch
    // application would leak it when the two land in different batches
    val ops = Seq((1L, "", "forget"), (3L, "z", "add"), (4L, "", "forget"),
      (4L, "w", "add"), (5L, "v", "add"))
    def run(batches: Seq[Seq[(Long, String, String)]]): Set[(Long, String)] = {
      val mem = MemoryStream[(Long, String, String)]
      var last = Set.empty[(Long, String)]
      val q = EventStream.streamingForget(
          mem.toDF().toDF("id", "band", "op"), "id", "op", initial) { st =>
        last = st.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      }.start()
      try batches.foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
      last
    }
    val expected = Set((2L, "y"), (3L, "z"), (5L, "v"))
    assert(run(Seq(ops)) == expected)           // one batch
    assert(run(ops.map(Seq(_))) == expected)    // one op per batch
    assert(run(ops.grouped(2).toSeq) == expected) // uneven split
  }
}


class StreamingNbSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.streaming.OutputMode
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("streaming NB prediction equals the batch operator on sf0.01, any batching") {
    // the d_nb_predict split: model frozen on even doc_ids, odd doc_ids
    // classified - streamed (pred, score) rows must equal batch nbPredict
    // exactly across uneven micro-batches (map-side only, split-invariant)
    implicit val sqlCtx = spark.sqlContext
    val all = Tables(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val tr = all.filter(col("doc_id") % 2 === 0)
    val model = graft.operators.Classify.nbModel(tr, "text", "lang")
    val base = graft.operators.Classify.nbClassBase(tr, "doc_id", "text", "lang")
    val oddRows = all.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val q = EventStream.streamingNbPredict(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", model, base)
      .writeStream.format("memory").queryName("nb_eq")
      .outputMode(OutputMode.Append()).start()
    try {
      oddRows.grouped(77).foreach { c => mem.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("nb_eq")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.operators.Classify.nbPredict(
          all.filter(col("doc_id") % 2 === 1), model, base, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()

    // whitespace edge: the stream tokenizer must strip spaces only and
    // split on \s+, exactly like the WordShingles kernel; empty docs
    // fall back to the prior-side argmax identically
    val edge = Seq((1L, " the cat "), (2L, "")).toDF("doc_id", "text")
    val streamedEdge = EventStream.streamingNbPredict(
        edge, "doc_id", "text", model, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batchEdge = graft.operators.Classify.nbPredict(
        edge, model, base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamedEdge == batchEdge)
  }
}

class TiffSpec extends SparkSpec {
  import graft.multimodal.Multimodal._

  test("TIFF round-trip: both byte orders, multi-page chain, desc offset") {
    val pages = Seq((640, 480, 8, 1), (320, 240, 8, 1), (100, 50, 8, 1))
    for (le <- Seq(true, false)) {
      val bytes = encodeTiff(le, "hello tiff", pages)
      val m = decodeTiffMeta(bytes).get
      assert(m == TiffMeta(if (le) "II" else "MM", 3, 640, 480, 8, 1,
        "hello tiff"))
    }
  }

  test("TIFF decode: single page, 16-bit, LZW tag") {
    val m = decodeTiffMeta(encodeTiff(littleEndian = false, "x",
      Seq((7, 9, 16, 5)))).get
    assert(m == TiffMeta("MM", 1, 7, 9, 16, 5, "x"))
  }

  test("TIFF decode refuses malformed input instead of throwing") {
    val good = encodeTiff(littleEndian = true, "d", Seq((4, 4, 8, 1)))
    assert(decodeTiffMeta(Array[Byte]()).isEmpty)
    assert(decodeTiffMeta("PKjunk".getBytes("US-ASCII")).isEmpty)
    assert(decodeTiffMeta(good.take(20)).isEmpty) // truncated IFD
    val badMagic = good.clone(); badMagic(2) = 7
    assert(decodeTiffMeta(badMagic).isEmpty)
  }

  test("TIFF decode: cyclic next-IFD pointer terminates at the page cap") {
    val good = encodeTiff(littleEndian = true, "d", Seq((4, 4, 8, 1)))
    // IFD0 at 8 with 5 entries: next-IFD field sits at 8 + 2 + 60
    val cyc = good.clone()
    cyc(70) = 8; cyc(71) = 0; cyc(72) = 0; cyc(73) = 0
    val m = decodeTiffMeta(cyc)
    assert(m.exists(_.nPages == 64)) // capped, not an infinite loop
  }
}

class ZipSpec extends SparkSpec {
  import graft.multimodal.Multimodal._

  test("ZIP round-trip: names in directory order, sizes, verified CRCs") {
    val m = decodeZipMeta(encodeZip(Seq(
      "a.txt" -> "hello".getBytes("US-ASCII"),
      "b/c.bin" -> Array[Byte](0, 1, 2, -1),
      "empty" -> Array[Byte]()))).get
    assert(m == ZipMeta(3, Seq("a.txt", "b/c.bin", "empty"), 9L, 3))
  }

  test("ZIP walk verifies payload CRC instead of trusting the directory") {
    val m = decodeZipMeta(encodeZip(Seq(
      "a" -> "xx".getBytes, "b" -> "yy".getBytes),
      corruptFirstCrc = true)).get
    assert(m.nEntries == 2 && m.crcOk == 1)
  }

  test("ZIP decode is JDK-readable and refuses malformed input") {
    val bytes = encodeZip(Seq("f.txt" -> "payload".getBytes("US-ASCII")))
    // cross-check against the JDK's own reader: entry name and content
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val e = zin.getNextEntry
    assert(e.getName == "f.txt")
    assert(new String(zin.readAllBytes(), "US-ASCII") == "payload")
    assert(zin.getNextEntry == null)
    assert(decodeZipMeta(Array[Byte]()).isEmpty)
    assert(decodeZipMeta("not a zip at all".getBytes).isEmpty)
    assert(decodeZipMeta(bytes.take(bytes.length - 3)).isEmpty) // EOCD cut
  }
}
