package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.read.parquet(sf("documents"))

  test("fromText builds binary content with typed metadata") {
    val media = Multimodal.fromText(docs, "doc_id", "text")
    val r = media.head()
    assert(r.content.nonEmpty)
    assert(r.meta.format == "txt")
    assert(r.meta.width == r.content.length % 640)
  }

  test("extractFeatures is deterministic and batch-size independent") {
    val media = Multimodal.fromText(docs.limit(100), "doc_id", "text")
    val a = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 7)
      .collect().sortBy(_.id)
    val b = Multimodal.extractFeatures(media, Multimodal.StubDecoder, batchSize = 64)
      .collect().sortBy(_.id)
    assert(a.length == 100)
    assert(a.zip(b).forall { case (x, y) =>
      x.id == y.id && x.nBytes == y.nBytes && x.codes.sameElements(y.codes) })
  }

  test("stub features equal md5-hex char codes of the content") {
    val media = Multimodal.fromText(docs.limit(5), "doc_id", "text")
    val feats = Multimodal.extractFeatures(media, Multimodal.StubDecoder)
      .collect().map(f => f.id -> f).toMap
    media.collect().foreach { r =>
      val hex = Multimodal.StubDecoder.md5Hex(r.content)
      assert(feats(r.id).codes.toSeq == hex.take(8).map(_.toLong).toSeq)
    }
  }

  test("sampleFrames emits every stride-th fixed-size block") {
    implicit val s = spark
    val media = Multimodal.fromText(docs.limit(3), "doc_id", "text")
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
    val byId = frames.groupBy("id").agg(count(lit(1)).as("n"),
      min("frame_no").as("mn")).as[(Long, Long, Int)].collect()
    assert(byId.nonEmpty)
    assert(byId.forall(_._3 == 0))
    val content = media.head().content
    val expected = (content.length + 15) / 16
    val got = frames.filter($"id" === media.head().id).count()
    assert(got == (expected + 1) / 2)
  }

  test("dedupBinary keeps exactly the min-id row per distinct payload") {
    val df = Seq(
      (3L, "xx"), (1L, "xx"),   // dup payload — keep id 1
      (2L, "yy"), (5L, "zz"))
      .toDF("id", "t")
      .select(col("id"), encode(col("t"), "UTF-8").as("content"))
    val kept = Multimodal.dedupBinary(df, "id", "content")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L))
    // digest-only shuffle: over a real (non-constant-foldable) source, the
    // window subtree projects (id, md5(content)) — the payload column never
    // sits below the window exchange, only digests shuffle
    val media = Multimodal.fromText(docs.limit(50), "doc_id", "text").toDF()
    val plan = Multimodal.dedupBinary(media, "id", "content")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("md5"))
  }

  test("resize crops or zero-pads to exactly the target plane, no shuffle") {
    val media = Multimodal.fromText(docs.limit(20), "doc_id", "text")
    val out = Multimodal.resize(media.toDF(), targetW = 8, targetH = 4)
    val rows = out.select(col("id"), length(col("content")),
      col("meta.width"), col("meta.height"), col("origBytes"), col("truncated"))
      .as[(Long, Int, Int, Int, Int, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, len, w, h, orig, trunc) =>
      assert(len == 32 && w == 8 && h == 4)
      assert(trunc == (orig > 32))
    }
    // padded tail is zero bytes
    val shortDoc = media.toDF().filter(length(col("content")) < 32)
    if (shortDoc.count() > 0) {
      val r = Multimodal.resize(shortDoc, 8, 4)
        .select("content", "origBytes").head()
      val bytes = r.getAs[Array[Byte]](0)
      val orig = r.getInt(1)
      assert(bytes.drop(orig).forall(_ == 0))
    }
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("avgHash sets bit j iff code j strictly exceeds the mean") {
    val feats = Seq(
      (1L, Array(1L, 1L, 1L, 1L, 1L, 1L, 1L, 9L)),  // mean 2: only c7 above
      (2L, Array(2L, 2L, 2L, 2L, 2L, 2L, 2L, 2L)))  // all equal: no bits
      .toDF("id", "codes")
    val out = Multimodal.avgHash(feats, "id", "codes")
      .orderBy("id").select("phash").as[Long].collect().toSeq
    assert(out == Seq(128L, 0L))
  }

  test("phashPairs: nibble bands find every Hamming<=1 pair, none twice") {
    val hashes = Seq((1L, 0L), (2L, 1L), (3L, 16L), (4L, 48L))
      .toDF("id", "phash")
    val out = Multimodal.phashPairs(hashes, "id", "phash", maxHamming = 1)
      .orderBy("da", "db").select("da", "db", "hamming")
      .as[(Long, Long, Int)].collect().toSeq
    // (1,2) share the high nibble, (1,3) and (3,4) the low one; (2,3),
    // (1,4), (2,4) are Hamming >= 2 and must not appear
    assert(out == Seq((1L, 2L, 1), (1L, 3L, 1), (3L, 4L, 1)))
  }

  test("shardAssign: byte-offset boundaries, per-group independence, oversize items") {
    val df = Seq(
      ("s1", 1L, 60L), ("s1", 2L, 50L), ("s1", 3L, 10L), ("s1", 4L, 250L),
      ("s1", 5L, 10L), ("s2", 1L, 5L)).toDF("src", "id", "len")
    val out = Multimodal.shardAssign(df, "id", col("len"), "src", 100L)
      .select("src", "id", "shard").as[(String, Long, Long)].collect().toSet
    // s1 exclusive cumsum: 0,60,110,120,370 -> div 100 = 0,0,1,1,3:
    // the 250-byte item spans shard 1..3 so the next item opens shard 3.
    assert(out == Set(("s1", 1L, 0L), ("s1", 2L, 0L), ("s1", 3L, 1L),
      ("s1", 4L, 1L), ("s1", 5L, 3L), ("s2", 1L, 0L)))
  }

  test("shardAssign: assignment is repartition-stable and order-derived") {
    val df = (1L to 97L).map(i => ("g" + (i % 3), i, 7L + i % 13))
      .toDF("src", "id", "len")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.shardAssign(d, "id", col("len"), "src", 64L)
        .select("src", "id", "shard").as[(String, Long, Long)]
        .collect().toSet
    val a = run(df)
    assert(a == run(df.orderBy(rand(5))) && a == run(df.repartition(7)))
    // shards within a group are contiguous in id order
    val byGroup = a.groupBy(_._1)
    byGroup.values.foreach { rows =>
      val sorted = rows.toSeq.sortBy(_._2).map(_._3)
      assert(sorted == sorted.sorted)
    }
  }

  test("keyframes: first frame keys, repeats collapse, changes key") {
    // id 1: AAAA, AAAA, BBBB, BBBB, AAAA -> keys at 0, 2, 4 (return to
    // an EARLIER scene still keys: comparison is to the previous frame,
    // not a seen-set). id 2: single frame -> key.
    val f = Seq(
      (1L, 0, "AAAA"), (1L, 1, "AAAA"), (1L, 2, "BBBB"),
      (1L, 3, "BBBB"), (1L, 4, "AAAA"), (2L, 0, "ZZ"))
      .map { case (id, no, s) => (id, no, s.getBytes("UTF-8")) }
      .toDF("id", "frame_no", "frame")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.keyframes(d).select("id", "frame_no", "is_key")
        .as[(Long, Int, Boolean)].collect().toSet
    val got = run(f)
    assert(got == Set((1L, 0, true), (1L, 1, false), (1L, 2, true),
      (1L, 3, false), (1L, 4, true), (2L, 0, true)))
    assert(got == run(f.repartition(5)))
    // Null payloads: two consecutive nulls collapse (null-safe equality),
    // a null after bytes keys — first-frame detection must not rely on
    // lag() returning null.
    val withNulls = Seq((3L, 0, None), (3L, 1, None),
      (3L, 2, Some("X".getBytes("UTF-8"))))
      .toDF("id", "frame_no", "frame")
    assert(run(withNulls) ==
      Set((3L, 0, true), (3L, 1, false), (3L, 2, true)))
  }

  test("ImageIoDecoder: PNG decode reproduces the generator's pixel " +
      "formula exactly; undecodable bytes quarantine to empty codes") {
    // Negative ids included: the generator must be total over all longs
    // (Math.floorMod dims — a sign-preserving % yielded w <= 0 and threw).
    val ids = Seq(0L, 3L, 17L, -8L).toDF("doc_id")
    val media = Multimodal.syntheticPngs(ids, "doc_id")
    val feats = Multimodal
      .extractFeatures(media, Multimodal.ImageIoDecoder, batchSize = 2)
      .collect().sortBy(_.id)
    assert(feats.length == 4)
    for (f <- feats) {
      val id = f.id
      val w = (8 + Math.floorMod(id, 9L)).toInt
      val h = (8 + Math.floorMod(3 * id, 9L)).toInt
      val px = for (x <- 0 until w; y <- 0 until h)
        yield Math.floorMod(7L * x + 13L * y + id, 256L)
      // Gray fixture: all three channel blocks carry the same stats.
      val chan = Seq(px.sum, px.min, px.max)
      assert(f.codes.toSeq ==
        Seq(w.toLong, h.toLong) ++ chan ++ chan ++ chan,
        s"id=$id decoded stats diverge from the closed form")
    }
    // Non-image payloads must not kill the task — empty codes instead.
    val junk = Multimodal.extractFeatures(
      Multimodal.fromText(Seq((9L, "not a png")).toDF("id", "text"),
        "id", "text"),
      Multimodal.ImageIoDecoder).collect()
    assert(junk.length == 1 && junk.head.codes.isEmpty)
  }

  test("syntheticRgbPngs: per-channel closed forms decode independently") {
    val ids = Seq(1L, 5L, 12L).toDF("doc_id")
    val feats = Multimodal
      .extractFeatures(Multimodal.syntheticRgbPngs(ids, "doc_id"),
        Multimodal.ImageIoDecoder)
      .collect().sortBy(_.id)
    for (f <- feats) {
      val id = f.id
      val w = (8 + Math.floorMod(id, 9L)).toInt
      val h = (8 + Math.floorMod(3 * id, 9L)).toInt
      def stats(a: Long, b: Long, c: Long): Seq[Long] = {
        val px = for (x <- 0 until w; y <- 0 until h)
          yield Math.floorMod(a * x + b * y + c * id, 256L)
        Seq(px.sum, px.min, px.max)
      }
      assert(f.codes.toSeq == Seq(w.toLong, h.toLong) ++
        stats(7, 13, 1) ++ stats(11, 5, 2) ++ stats(3, 17, 5),
        s"id=$id rgb decode diverges from the closed forms")
    }
    // The channels genuinely differ (a gray fixture could not catch a
    // decoder reading the wrong plane).
    val f0 = feats.head.codes
    assert(f0.slice(2, 5).toSeq != f0.slice(5, 8).toSeq)
  }

  test("syntheticMixed: intact png/jpg decode, truncated payloads " +
      "quarantine without killing the task") {
    val ids = (0L until 40L).toDF("doc_id")
    val media = Multimodal.syntheticMixed(ids, "doc_id")
    val feats = Multimodal
      .extractFeatures(media, Multimodal.ImageIoDecoder, batchSize = 8)
      .collect()
    assert(feats.length == 40)
    val (decoded, quarantined) = feats.partition(_.codes.nonEmpty)
    assert(decoded.map(_.id).toSet == (0L until 40L).filter(_ % 2 == 0).toSet)
    assert(quarantined.map(_.id).toSet == (0L until 40L).filter(_ % 2 == 1).toSet)
    // Truncated rows really are 16-byte stubs, not accidentally intact.
    assert(media.collect().filter(_.id % 2 == 1).forall(_.content.length == 16))
  }

  test("writeMediaFiles + binaryFile scan: round-trips payloads; the " +
      "content column is pruned from a metadata-only read") {
    val dir = graft.Scratch.fresh("mmspec-bin")
    val ids = Seq(2L, 7L, 33L).toDF("doc_id")
    Multimodal.writeMediaFiles(
      Multimodal.syntheticPngs(ids, "doc_id"), dir, "png")
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
    val rows = bin.select(
        regexp_extract(col("path"), "doc-(\\d+)\\.png$", 1)
          .cast("long").as("id"),
        col("content"),
        struct(lit("png").as("format"), lit(0).as("width"),
          lit(0).as("height")).as("meta"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal
      .extractFeatures(rows, Multimodal.ImageIoDecoder)
      .collect().sortBy(_.id)
    assert(feats.map(_.id).toSeq == Seq(2L, 7L, 33L))
    assert(feats.forall(_.codes.nonEmpty))
    // Metadata-only projection must not read payload bytes: the scan's
    // ReadSchema carries just the selected columns (binary-scan pruning —
    // at 100 TB of media, a stats query over paths/lengths reads KB).
    val metaPlan = bin.select("path", "length")
      .queryExecution.executedPlan.toString
    val schemaLine = metaPlan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(schemaLine.nonEmpty && !schemaLine.contains("content"),
      s"binaryFile metadata read did not prune content: $schemaLine")
  }

  test("WavDecoder: PCM decode reproduces both channel closed forms " +
      "exactly, including zero-crossing counts") {
    // Negative ids included: encodeWav's frame count uses floorMod, so
    // the generator must be total over all longs like the image one.
    val ids = Seq(0L, 3L, 17L, -8L).toDF("doc_id")
    val feats = Multimodal
      .extractFeatures(Multimodal.syntheticWavs(ids, "doc_id"),
        Multimodal.WavDecoder, batchSize = 2)
      .collect().sortBy(_.id)
    assert(feats.length == 4)
    for (f <- feats) {
      val id = f.id
      val n = (256 + Math.floorMod(id, 64L)).toInt
      def chan(a: Long, b: Long): Seq[Long] = {
        val s = (0 until n).map(i =>
          Math.floorMod(a * i + b * id, 65536L) - 32768L)
        val zc = (1 until n).count(i => (s(i) >= 0) != (s(i - 1) >= 0))
        Seq(s.sum, s.min, s.max, zc.toLong)
      }
      assert(f.codes.toSeq ==
        Seq(8000L, 2L, n.toLong) ++ chan(7, 1) ++ chan(11, 2),
        s"id=$id decoded sample stats diverge from the closed forms")
      // The two channels genuinely differ — a decoder deinterleaving at
      // the wrong stride or reading one plane twice cannot pass.
      assert(f.codes.slice(3, 7).toSeq != f.codes.slice(7, 11).toSeq)
    }
    // Non-audio payloads must not kill the task — empty codes instead.
    val junk = Multimodal.extractFeatures(
      Multimodal.fromText(Seq((9L, "not a wav")).toDF("id", "text"),
        "id", "text"),
      Multimodal.WavDecoder).collect()
    assert(junk.length == 1 && junk.head.codes.isEmpty)
  }

  test("parseAviFrames: round-trips every frame payload in order " +
      "(incl. odd-size bodies under RIFF even padding); malformed " +
      "containers yield zero rows") {
    val ids = Seq(0L, 1L, 5L, 14L).toDF("doc_id")
    val media = Multimodal.syntheticAvis(ids, "doc_id")
    val frames = Multimodal.parseAviFrames(media)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]](2)))
    // Frame counts: 2 + id mod 4.
    val counts = frames.groupBy(_._1).view.mapValues(_.length).toMap
    assert(counts == Map(0L -> 2, 1L -> 3, 5L -> 3, 14L -> 4))
    // Every parsed frame payload decodes as the exact PNG the generator
    // wrote for (id, frame_no) — byte-identical round-trip through the
    // container, so padding/seek errors cannot hide.
    for ((id, f, payload) <- frames) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      assert(img != null, s"frame ($id, $f) not a decodable image")
      val g0 = Math.floorMod(id + 19L * f, 256L).toInt // pixel (0,0)
      assert((img.getRGB(0, 0) & 0xff) == g0,
        s"frame ($id, $f) pixel(0,0) mismatch")
    }
    // Some PNG bodies are odd-sized, or the padding path went untested.
    assert(frames.exists(_._3.length % 2 == 1),
      "fixture produced no odd-size frame body — padding path untested")
    // Truncated and junk containers quarantine to zero rows.
    val bad = Multimodal.parseAviFrames(
      Multimodal.syntheticMixedAvis(Seq(3L).toDF("doc_id"), "doc_id"))
    assert(bad.count() == 0L)
    val junk = Multimodal.parseAviFrames(
      Multimodal.fromText(Seq((9L, "not an avi")).toDF("id", "text"),
        "id", "text"))
    assert(junk.count() == 0L)
  }

  test("parseAviFrames: adversarial u32 chunk sizes terminate the walk " +
      "(0xFFFFFFF8/0xFFFFFFF7 made the old Int-arithmetic advance add " +
      "ZERO — a permanently hung executor, ADVICE r11)") {
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.time.{Seconds, Span}
    implicit val signaler: Signaler = ThreadSignaler
    def u32le(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")
    // Case 1: frame chunk inside 'movi' declares csz = 0xFFFFFFF8
    // (toInt = -8, pad 0 → old advance 8 + (-8) + 0 = 0).
    val movi = ascii("LIST") ++ u32le(0xFFFFFFF8L) ++ ascii("movi") ++
      ascii("00dc") ++ u32le(0xFFFFFFF8L) ++ Array.fill(16)(0x41.toByte)
    // Case 2: top-level chunk declares sz = 0xFFFFFFF7 (toInt = -9,
    // pad 1 → old advance 8 - 9 + 1 = 0).
    val hang = ascii("JUNK") ++ u32le(0xFFFFFFF7L) ++
      Array.fill(16)(0x42.toByte)
    val payload = ascii("RIFF") ++ u32le(0xFFFFFFF0L) ++ ascii("AVI ") ++
      movi ++ hang
    val rows = Seq(Multimodal.MediaRow(7L, payload,
      Multimodal.MediaMeta("avi", 0, 0))).toDS()
    failAfter(Span(60, Seconds)) {
      // An oversized declared chunk size can never satisfy the
      // `p + 8 + csz <= lend` emit guard, so the adversarial container
      // must yield zero frames — and must do so in finite time.
      assert(Multimodal.parseAviFrames(rows).count() == 0L)
    }
    // Control: the adversarial prefix must not have broken the honest
    // path — a well-formed container in the same batch still parses.
    val ok = Multimodal.syntheticAvis(Seq(0L).toDF("doc_id"), "doc_id")
    assert(Multimodal.parseAviFrames(ok).count() == 2L)
  }

  test("WavDecoder: out-of-contract PCM encodings quarantine (8-bit, " +
      "big-endian) — only 16-bit little-endian signed PCM decodes") {
    import javax.sound.sampled._
    def wav(bits: Int, bigEndian: Boolean): Array[Byte] = {
      val n = 32
      val fsz = bits / 8
      val pcm = new Array[Byte](n * fsz)
      val fmt = new AudioFormat(
        if (bits == 8) AudioFormat.Encoding.PCM_UNSIGNED
        else AudioFormat.Encoding.PCM_SIGNED,
        8000f, bits, 1, fsz, 8000f, bigEndian)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, wav(8, bigEndian = false),
        Multimodal.MediaMeta("wav", 32, 1)),
      Multimodal.MediaRow(2L, wav(16, bigEndian = true),
        Multimodal.MediaMeta("wav", 32, 1)))
    val feats = Multimodal.WavDecoder.decodeBatch(rows)
    // 8-bit unsigned and big-endian 16-bit are outside the decoder's
    // declared contract — both must quarantine, not mis-decode.
    // (The JDK WAV writer stores 16-bit WAVE as little-endian regardless
    // of the stream format, so the big-endian case may legitimately
    // decode IF the container declares LE — accept either quarantine or
    // a correct-by-container decode, but never a crash.)
    assert(feats.head.codes.isEmpty, "8-bit PCM must quarantine")
    assert(feats.length == 2)
  }

  test("syntheticMixedWavs: intact WAVs decode, 16-byte truncations " +
      "quarantine without killing the task") {
    val ids = (0L until 40L).toDF("doc_id")
    val media = Multimodal.syntheticMixedWavs(ids, "doc_id")
    val feats = Multimodal
      .extractFeatures(media, Multimodal.WavDecoder, batchSize = 8)
      .collect()
    assert(feats.length == 40)
    val (decoded, quarantined) = feats.partition(_.codes.nonEmpty)
    assert(decoded.map(_.id).toSet == (0L until 40L).filter(_ % 2 == 0).toSet)
    assert(quarantined.map(_.id).toSet ==
      (0L until 40L).filter(_ % 2 == 1).toSet)
    assert(media.collect().filter(_.id % 2 == 1)
      .forall(_.content.length == 16))
  }

  test("mixed generators: intact rows equal their intact twin byte for " +
      "byte; poisoned rows are its first 16 bytes, format <fmt>_trunc") {
    val ids = (-64L to 255L).toDF("doc_id")
    def byId(ds: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
      ds.collect().map(r => r.id -> r).toMap
    def same(a: Multimodal.MediaRow, b: Multimodal.MediaRow): Boolean =
      a.id == b.id && a.meta == b.meta && a.content.sameElements(b.content)
    def cut(r: Multimodal.MediaRow): Multimodal.MediaRow =
      r.copy(content = r.content.take(16),
        meta = r.meta.copy(format = r.meta.format + "_trunc"))
    val pairs = Seq(
      ("png", Multimodal.syntheticMixed(ids, "doc_id"),
        Multimodal.syntheticPngs(ids, "doc_id")),
      ("wav", Multimodal.syntheticMixedWavs(ids, "doc_id"),
        Multimodal.syntheticWavs(ids, "doc_id")),
      ("avi", Multimodal.syntheticMixedAvis(ids, "doc_id"),
        Multimodal.syntheticAvis(ids, "doc_id")))
    pairs.foreach { case (fmt, mixedDs, intactDs) =>
      val mixed = byId(mixedDs)
      val intact = byId(intactDs)
      assert(mixed.keySet == (-64L to 255L).toSet, fmt)
      // syntheticMixed interleaves png (id mod 4 in {0, 1}) with jpg
      // (id mod 4 in {2, 3}); the wav and avi mixes are all one format.
      val twinIds = mixed.keys.filter(id =>
        fmt != "png" || Math.floorMod(id, 4L) < 2)
      twinIds.foreach { id =>
        val want = if (Math.floorMod(id, 2L) == 0L) intact(id) else cut(intact(id))
        assert(same(mixed(id), want), s"$fmt id $id")
      }
    }
    // The jpg rows have no intact generator: the poisoned ones are still
    // 16-byte JPEG heads (SOI marker) of the id's dimensions.
    Multimodal.syntheticMixed(ids, "doc_id").collect()
      .filter(r => Math.floorMod(r.id, 4L) == 3L).foreach { r =>
        assert(r.content.length == 16 &&
          (r.content(0) & 0xff) == 0xff && (r.content(1) & 0xff) == 0xd8)
        assert(r.meta == Multimodal.MediaMeta("jpg_trunc",
          (8 + Math.floorMod(r.id, 9L)).toInt,
          (8 + Math.floorMod(3 * r.id, 9L)).toInt), s"id ${r.id}")
      }
  }
}
