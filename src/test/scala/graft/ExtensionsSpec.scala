package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.streaming.EventStreams
import graft.write.IncludeWriter
import graft.sources.Tables

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("multimodal: binary column plumbing with stubbed decode") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    val media = Multimodal.fromText(docs, "doc_id", "text", "image")
    assert(media.schema("content").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 20)
    val r = feats.orderBy("media_id").collect().head
    val f1 = r.getSeq[Float](r.fieldIndex("features"))
    assert(f1.length == Multimodal.FeatureDim)
    assert(r.getAs[Long]("n_bytes") > 0)
    assert(r.getAs[String]("decoder") == "stub") // text payload: provenance says so
    // determinism: same input bytes, same features
    val again = Multimodal.extractFeatures(media).orderBy("media_id").collect().head
    assert(again.getSeq[Float](again.fieldIndex("features")) == f1)
  }

  test("multimodal: resize kernel shrinks content and rewrites metadata") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(5)
    val media = Multimodal.fromText(docs, "doc_id", "text", "image")
    val resized = Multimodal.resize(media, 4).orderBy("media_id").collect()
    val original = media.orderBy("media_id").collect()
    resized.zip(original).foreach { case (r, o) =>
      val rb = r.getAs[Array[Byte]]("content")
      val ob = o.getAs[Array[Byte]]("content")
      assert(rb.length == ob.length / 4)
      assert(r.getStruct(r.fieldIndex("meta")).getAs[Long]("n_bytes") == rb.length.toLong)
      // deterministic: every 4th byte survives
      assert(rb.take(3).toSeq == Seq(ob(0), ob(4), ob(8)).toSeq)
    }
  }

  test("multimodal: real ImageIO decode recovers exact dims and pixels") {
    // a 5x3 PNG with formula pixels: decode must return every value
    val img = new java.awt.image.BufferedImage(5, 3, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 3; x <- 0 until 5)
      img.setRGB(x, y, ((10 * x + y) << 16) | ((x + y) << 8) | (x * y))
    val png = Multimodal.encodePng(img)
    assert(png.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val dec = Multimodal.decodeImage(png).get
    assert(dec.getWidth == 5 && dec.getHeight == 3)
    assert(dec.getRaster.getNumBands == 3)
    for (y <- 0 until 3; x <- 0 until 5) {
      val rgb = dec.getRGB(x, y)
      assert(((rgb >> 16) & 0xff) == 10 * x + y)
      assert(((rgb >> 8) & 0xff) == x + y)
      assert((rgb & 0xff) == x * y)
    }
    // non-image bytes are None, not an exception
    assert(Multimodal.decodeImage("not a png".getBytes).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
  }

  test("multimodal: real WAV decode recovers exact samples, meta and features") {
    // 200 samples of a known ramp at 8 kHz mono: every sample must come back
    val samples = Array.tabulate(200)(i => ((i * 163) % 65536 - 32768).toShort)
    val wav = Multimodal.encodeWav(samples, 8000, 1)
    assert(new String(wav.take(4), "ASCII") == "RIFF")
    val dec = Multimodal.decodeWav(wav).get
    assert(dec.sampleRate == 8000f && dec.channels == 1 && dec.frames == 200L)
    assert(dec.samples.length == 200)
    for (i <- 0 until 200)
      assert(Math.round(dec.samples(i) * 32768f) == samples(i).toInt)
    // stereo: frames = samples / channels, interleaving preserved
    val st = Multimodal.decodeWav(Multimodal.encodeWav(samples, 16000, 2)).get
    assert(st.channels == 2 && st.frames == 100L && st.samples.length == 200)
    // non-WAV bytes are None, not an exception
    assert(Multimodal.decodeWav("not a wav".getBytes).isEmpty)
    assert(Multimodal.decodeWav(null).isEmpty)
    // audioMeta + feature routing: a WAV payload gets real audio features
    val media = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(9L, "audio", wav,
        org.apache.spark.sql.Row("synthetic", wav.length.toLong))),
      Multimodal.MediaSchema)
    val meta = Multimodal.audioMeta(media).collect().head
    assert(meta.getAs[Float]("sample_rate") == 8000f &&
      meta.getAs[Int]("channels") == 1 && meta.getAs[Long]("frames") == 200L)
    assert(math.abs(meta.getAs[Double]("duration_s") - 0.025) < 1e-9)
    val featRow = Multimodal.extractFeatures(media).collect().head
    assert(featRow.getAs[String]("decoder") == "wav")
    val feats = featRow.getAs[scala.collection.Seq[Float]]("features")
    assert(feats(0) == 8000f && feats(1) == 1f && feats(2) == 200f)
    val expRms = math.sqrt(samples.map(s => math.pow(s / 32768.0, 2)).sum / 200)
    assert(math.abs(feats(4) - expRms) < 1e-4)
  }

  test("multimodal: real image resize changes dims, preserves solid color") {
    val img = new java.awt.image.BufferedImage(16, 8, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(120, 200, 40)); g.fillRect(0, 0, 16, 8); g.dispose()
    val media = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(7L, "image",
        Multimodal.encodePng(img),
        org.apache.spark.sql.Row("synthetic", 0L))),
      Multimodal.MediaSchema)
    val out = Multimodal.resizeImages(media, 4, 2).collect().head
    val dec = Multimodal.decodeImage(out.getAs[Array[Byte]]("content")).get
    assert(dec.getWidth == 4 && dec.getHeight == 2)
    // bilinear resize of a constant image is the same constant
    for (y <- 0 until 2; x <- 0 until 4)
      assert((dec.getRGB(x, y) & 0xffffff) == ((120 << 16) | (200 << 8) | 40))
    assert(out.getStruct(out.fieldIndex("meta")).getAs[Long]("n_bytes") ==
      out.getAs[Array[Byte]]("content").length.toLong)
    // imageMeta sees the decoded dims; text payloads yield null dims
    val mixed = media.unionByName(Multimodal.fromText(
      Tables.documents(spark, "/root/testdata/sf0.001").limit(1), "doc_id", "text", "image"))
    val metas = Multimodal.imageMeta(mixed).orderBy("media_id").collect()
    assert(metas.exists(r => !r.isNullAt(r.fieldIndex("width")) &&
      r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 8))
    assert(metas.exists(r => r.isNullAt(r.fieldIndex("width"))))
  }

  test("multimodal: extractFeatures takes the real path for decodable images") {
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(50, 100, 150)); g.fillRect(0, 0, 6, 4); g.dispose()
    val media = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, "image",
        Multimodal.encodePng(img), org.apache.spark.sql.Row("synthetic", 0L))),
      Multimodal.MediaSchema)
    val r = Multimodal.extractFeatures(media).collect().head
    val f = r.getSeq[Float](r.fieldIndex("features"))
    assert(f.length == Multimodal.FeatureDim)
    assert(r.getAs[String]("decoder") == "image")
    assert(f(0) == 6.0f && f(1) == 4.0f && f(2) == 3.0f) // w, h, channels
    assert(f(3) == 50.0f && f(4) == 100.0f && f(5) == 150.0f) // channel means
  }

  test("multimodal: corrupt payloads are flagged stub, never decoded media") {
    // a truncated PNG and a truncated WAV: magic bytes present, body gone —
    // both must fall to the stub path and SAY so in the decoder column
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val corruptPng = Multimodal.encodePng(img).take(12)
    val corruptWav = Multimodal.encodeWav(Array.tabulate(50)(_.toShort), 8000, 1).take(16)
    val media = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, "image", corruptPng,
          org.apache.spark.sql.Row("synthetic", corruptPng.length.toLong)),
        org.apache.spark.sql.Row(2L, "audio", corruptWav,
          org.apache.spark.sql.Row("synthetic", corruptWav.length.toLong))),
      Multimodal.MediaSchema)
    val rows = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(rows.length == 2 && rows.forall(_.getAs[String]("decoder") == "stub"))
    // downstream can filter decoded media without inspecting payloads
    assert(Multimodal.extractFeatures(media)
      .filter(col("decoder") =!= "stub").count() == 0)
  }

  test("multimodal: frame sampling emits evenly spaced offsets") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(3)
    val media = Multimodal.fromText(docs, "doc_id", "text", "video")
    val frames = Multimodal.frameSample(media, 4)
    assert(frames.count() == 12)
    assert(frames.filter("frame_idx = 0").select("byte_offset").collect().forall(_.getLong(0) == 0L))
  }

  test("streaming: windowed aggregate over file-fed stream reaches memory sink") {
    val q = EventStreams.windowedActivity(
        EventStreams.readEvents(spark, "/root/testdata/sf0.001"), "1 day", "1 day")
      .writeStream.outputMode("complete").format("memory").queryName("winact").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM winact")
      assert(out.count() > 0)
      // totals must reconcile with the batch aggregate
      val streamed = out.agg(sum("n_events")).collect().head.getLong(0)
      assert(streamed == 1000L)
    } finally q.stop()
  }

  test("streaming: watermarked dedup drops replayed event ids") {
    val events = EventStreams.readEvents(spark, "/root/testdata/sf0.001")
    // duplicate every event in-batch (co-arriving replays are the
    // guaranteed-dedup case; duplicates straddling the watermark are
    // best-effort by definition)
    val doubled = events
      .withColumn("copy", explode(array(lit(1), lit(2)))).drop("copy")
    val q = EventStreams.dedupedEvents(doubled, "1 day")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("SELECT event_id FROM dedup")
        .collect().map(r => Option(r.get(0)))
      val expected = Tables.events(spark, "/root/testdata/sf0.001")
        .select("event_id").collect().map(r => Option(r.get(0)))
      val extra = out.groupBy(identity).view.mapValues(_.size).toMap
        .map { case (k, n) => (k, n - expected.count(_ == k)) }.filter(_._2 != 0)
      assert(extra.isEmpty, s"output-vs-source multiplicity diffs: $extra")
    } finally q.stop()
  }

  test("streaming: minhash-signature dedup collapses identical content across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import EventStreams.Doc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Doc]
    val q = EventStreams.signatureDeduped(src.toDF())
      .writeStream.outputMode("append").format("memory").queryName("sigdedup").start()
    try {
      src.addData(Doc(1, "alpha beta gamma"), Doc(2, "alpha beta gamma"),
        Doc(3, "delta epsilon"))
      q.processAllAvailable()
      src.addData(Doc(4, "alpha beta gamma")) // replay in a LATER micro-batch
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, canonical_id, is_dup FROM sigdedup")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(out(1L) == ((1L, false)))
      assert(out(2L) == ((1L, true)))  // same batch, same content
      assert(out(3L) == ((3L, false)))
      assert(out(4L) == ((1L, true))) // cross-batch: state remembered doc 1
    } finally q.stop()
  }

  test("streaming: sequence packing carries the token offset across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import EventStreams.Doc
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[Doc]
    val docs = src.toDF()
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(2))))
    val q = EventStreams.packedSpans(docs, 5L) // tiny packs force straddles
      .writeStream.outputMode("append").format("memory").queryName("spack").start()
    try {
      src.addData(Doc(0, "a b c"), Doc(1, "d e f g"))
      q.processAllAvailable()
      // batch 2 must CONTINUE each source's token offset from state
      src.addData(Doc(2, "h i j k l m"), Doc(3, "n o"))
      q.processAllAvailable()
      val out = spark.sql("SELECT * FROM spack").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id")) ->
          ((r.getAs[Long]("tok_in_pack"), r.getAs[Boolean]("is_head")))).toMap
      // s0: doc0 tokens [0,3) -> pack0; doc2 tokens [3,9) -> 2 in pack0, 4 in pack1
      assert(out((0L, 0L)) == ((3L, true)))
      assert(out((2L, 0L)) == ((2L, true)) && out((2L, 1L)) == ((4L, false)))
      // s1: doc1 tokens [0,4) -> pack0; doc3 tokens [4,6) -> 1 in pack0, 1 in pack1
      assert(out((1L, 0L)) == ((4L, true)))
      assert(out((3L, 0L)) == ((1L, true)) && out((3L, 1L)) == ((1L, false)))
      assert(out.size == 6)
    } finally q.stop()
  }

  test("streaming: stateful sessionization closes sessions on gaps") {
    import EventStreams.Ev
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = spark.createDataset(Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 4.0)))
    // batch Dataset through the same stateful session contract:
    // two sessions for user 1 — the first closed by the 110-minute gap
    val sessions = graft.core.Ops.sessionize(events.toDF(), Seq("user_id"), "ts", 1800)
    val n = sessions.select("session_id").distinct().count()
    assert(n == 2)
  }

  test("include writer: generic table with defaults, quoting, trailing elision") {
    val df = Seq(
      ("OP1", Some(33), Some(44), "OPEN", Some(100.5)),
      ("OP 2", Some(66), None, "SHUT", None))
      .toDF("WELL", "I", "J", "STATE", "TRAN")
    val text = IncludeWriter.genericDeckTable(df, "COMPDAT")
    assert(text.startsWith("COMPDAT\n"))
    assert(text.contains("  OP1 33 44 OPEN 100.5 /"))
    assert(text.contains("  'OP 2' 66 1* SHUT /")) // interior default kept, trailing elided
    assert(text.endsWith("/\n"))
  }

  test("include writer: run-length compression uses N*value syntax") {
    assert(IncludeWriter.runlengthCompress(Seq(2, 2, 2, 2, 2, 7, 1, 1)) == "5*2 7 2*1")
    val rt = IncludeWriter.runlengthCompress(Seq(1.0, 1.0, 3.5))
    assert(rt == "2*1 3.5")
  }

  test("include writer: a grid vector is ordered by its index column, RLE'd and wrapped") {
    // 12 cells given out of order: index 0..11 holds 5×1.0, 2.5, 2×3.0,
    // then 0..3 singly; runs of 2 or more become N*value
    val vals = Seq(1.0, 1.0, 1.0, 1.0, 1.0, 2.5, 3.0, 3.0, 0.0, 1.0, 2.0, 3.0)
    val df = new scala.util.Random(5).shuffle(vals.zipWithIndex).toDF("PORO", "IDX")
    assert(IncludeWriter.gridVector(df, "PORO", "IDX", "PORO") ==
      "PORO\n5*1 2.5 2*3 0 1 2 3\n/\n")
    // 14 distinct tokens: ten on the first line, four on the next
    val wide = (0 until 14).map(i => (i.toDouble, i.toLong)).toDF("NTG", "IDX")
    assert(IncludeWriter.gridVector(wide, "NTG", "IDX", "NTG") ==
      "NTG\n0 1 2 3 4 5 6 7 8 9\n10 11 12 13\n/\n")
  }

  test("include writer round-trip: table text reparses to the same records") {
    val df = Seq(("OP1", 1, 1, 1, 2, "OPEN"), ("OP2", 2, 2, 1, 1, "SHUT"))
      .toDF("WELL", "I", "J", "K1", "K2", "OPSH")
    val text = IncludeWriter.genericDeckTable(df, "COMPDAT")
    val events = graft.io.DeckParser.parse(text)
    val recs = events.filter(e => e.keyword == "COMPDAT" && e.items.nonEmpty)
    assert(recs.map(_.items) == Vector(
      Vector("OP1", "1", "1", "1", "2", "OPEN"),
      Vector("OP2", "2", "2", "1", "1", "SHUT")))
  }
}
