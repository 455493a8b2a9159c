package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.{Doc, MatchConfig, Span}
import graft.pipeline.{ErPipeline, Fixtures, Media}
import graft.streaming.IncrementalLink

/** Structured Streaming incremental linkage (SURVEY.md §2.9 optional mapping)
  * and the multimodal media plumbing (opaque binary + batched decode).
  */
class StreamingMediaSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: String, name: String, phone: String): Doc =
    Doc(id, Seq(
      Span("name", name, null, 0),
      Span("address", "12 oak street salem", null, 3),
      Span("phone", phone, null, 5)))

  test("dedupStream: first-seen wins, later fingerprints marked duplicates across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = IncrementalLink.dedupStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(doc("a1", "john smith", "555"), doc("a2", "john smith", "555"))
      q.processAllAvailable()
      mem.addData(doc("a3", "john smith", "555"), doc("b1", "other person", "111"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").collect()
        .map(r => r.getString(0) -> Option(r.getAs[String]("duplicate_of"))).toMap
      assert(rows("a1") === None)
      assert(rows("a2") === Some("a1"))
      assert(rows("a3") === Some("a1")) // state carried across micro-batches
      assert(rows("b1") === None)
    } finally q.stop()
  }

  test("dedupStream with idle timeout: within the horizon, identical to exact dedup") {
    // a wall-clock eviction test is inherently racy (processing-time timeouts
    // fire on the trigger clock); this exercises the ProcessingTimeTimeout
    // wiring — setTimeoutDuration throws unless the timeout conf is set — and
    // pins that decisions inside the horizon equal the exact path
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import scala.concurrent.duration._
    val mem = MemoryStream[Doc]
    val out = IncrementalLink.dedupStream(mem.toDS(), idleTimeout = Some(10.minutes))
    val q = out.writeStream.format("memory").queryName("dedup_ttl_out")
      .outputMode("append").start()
    // processAllAvailable never settles while timeouts are armed (the engine
    // keeps scheduling deadline-check batches — normal under
    // awaitTermination, fatal for the test helper): poll the sink instead
    def awaitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("dedup_ttl_out").count() < n) {
        assert(System.nanoTime() < deadline, s"sink never reached $n rows")
        Thread.sleep(100)
      }
    }
    try {
      mem.addData(doc("t1", "john smith", "555"), doc("t2", "john smith", "555"))
      awaitRows(2)
      mem.addData(doc("t3", "john smith", "555"), doc("u1", "other person", "111"))
      awaitRows(4)
      val rows = spark.table("dedup_ttl_out").collect()
        .map(r => r.getString(0) -> Option(r.getAs[String]("duplicate_of"))).toMap
      assert(rows === Map(
        "t1" -> None, "t2" -> Some("t1"), "t3" -> Some("t1"), "u1" -> None))
    } finally q.stop()
  }

  test("bucketCountsByWindow: watermarked windowed agg finalizes windows, drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:$s%02d")
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val classified = mem.toDS().toDF("event_time", "bucket")
    val out = IncrementalLink.bucketCountsByWindow(
      classified, "event_time", "1 minute", "30 seconds")
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // window [10:00,10:01): 2 matches, 1 maybe
      mem.addData(ts(0, 10) -> "match", ts(0, 40) -> "match", ts(0, 50) -> "maybe")
      q.processAllAvailable()
      // advance the watermark past 10:01 + 30s -> first window finalizes
      mem.addData(ts(2, 0) -> "match")
      q.processAllAvailable()
      // a LATE row for the finalized window: must be dropped, not re-counted
      mem.addData(ts(0, 20) -> "match")
      q.processAllAvailable()
      mem.addData(ts(5, 0) -> "no-match") // push watermark so window 2 closes too
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString.substring(11, 16),
          r.getAs[String]("bucket")) -> r.getAs[Long]("n")).toMap
      assert(rows(("10:00", "match")) === 2L) // late row excluded
      assert(rows(("10:00", "maybe")) === 1L)
      assert(rows(("10:02", "match")) === 1L)
    } finally q.stop()
  }

  test("linkStream: edges accumulate across micro-batches (new-vs-corpus scoring)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[Doc]
    val q = IncrementalLink.linkStream(
      mem.toDS(), MatchConfig.fixture,
      s"$base/corpus", s"$base/edges", s"$base/ckpt")
    try {
      mem.addData(doc("d1", "john smith", "5551234"), doc("x1", "maria garcia", "9990000"))
      q.processAllAvailable()
      // second batch: a duplicate of d1 arrives later — must link against corpus
      mem.addData(doc("d2", "jon smith", "5551234"))
      q.processAllAvailable()
      val edges = spark.read.parquet(s"$base/edges").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(edges.contains(("d1", "d2")) || edges.contains(("d2", "d1")),
        s"cross-batch duplicate not linked: $edges")
      assert(!edges.exists(e => e._1.startsWith("x") || e._2.startsWith("x")))
      val corpus = spark.read.parquet(s"$base/corpus/records")
      assert(corpus.count() === 3) // grows by each batch exactly once
      val blocks = spark.read.parquet(s"$base/corpus/blocks")
      assert(blocks.count() > 0) // persistent blocks table grows alongside
    } finally q.stop()
  }

  test("linkStream: an empty trigger writes nothing and leaves the next batch's edges unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val first = Seq(doc("d1", "john smith", "5551234"), doc("x1", "maria garcia", "9990000"))
    val next = Seq(doc("d2", "jon smith", "5551234"), doc("d3", "john smyth", "5551234"))
    /** One trigger per batch; returns the stream's base dir and the ids
      * `onBatchComplete` saw. */
    def stream(batches: Seq[Seq[Doc]]): (String, Seq[Long]) = {
      val base = Files.createTempDirectory("graft-stream-empty").toString
      val completed = scala.collection.mutable.ArrayBuffer[Long]()
      val mem = MemoryStream[Doc]
      val q = IncrementalLink.linkStream(
        mem.toDS(), MatchConfig.fixture,
        s"$base/corpus", s"$base/edges", s"$base/ckpt",
        clustersDir = Some(s"$base/clusters"),
        onBatchComplete = id => completed += id)
      try batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      finally q.stop()
      (base, completed.toSeq)
    }
    val (withEmpty, completed) = stream(Seq(first, Seq.empty, next))
    val (control, _) = stream(Seq(first, next))

    assert(completed === Seq(0L, 1L, 2L)) // the empty trigger still completes
    for (sub <- Seq("edges", "corpus/metrics", "corpus/records", "corpus/blocks")) {
      assert(new java.io.File(s"$withEmpty/$sub/batch_id=0").isDirectory, sub)
      assert(!new java.io.File(s"$withEmpty/$sub/batch_id=1").exists(),
        s"empty trigger wrote $sub/batch_id=1")
    }
    assert(new graft.io.LabelStore(s"$withEmpty/clusters", 8).currentSnapshot ===
      new graft.io.LabelStore(s"$control/clusters", 8).currentSnapshot)

    def edges(dir: String) = spark.read.parquet(dir)
      .select("a_id", "b_id").as[(String, String)].collect().sorted.toSeq
    val after = edges(s"$withEmpty/edges/batch_id=2")
    assert(after.nonEmpty)
    assert(after === edges(s"$control/edges/batch_id=1"))
  }

  test("media plumbing: spans -> payload rows -> batched features, deterministic") {
    import spark.implicits._
    val docs = Fixtures.docs(spark, 60)
    val media = Media.mediaTable(docs)
    val nRefs = docs.collect().map(_.spans.count(_.kind == "media")).sum
    assert(media.count() === nRefs.toLong)

    val feats = Media.extractFeatures(media, batchSize = 7)
    val rows = feats.collect()
    assert(rows.length === nRefs)
    rows.foreach { f =>
      assert(f.n_bytes >= 64 && f.n_bytes < 256)
      assert(f.embedding.length === 8)
      assert(f.embedding.forall(v => v >= -1.0f && v <= 1.0f))
      assert(Set("image", "audio", "video").contains(f.kind))
    }
    // deterministic: same refs -> same fingerprints, regardless of batch size
    val again = Media.extractFeatures(media, batchSize = 64).collect()
    assert(rows.map(f => f.media_ref -> f.fingerprint).toMap ===
      again.map(f => f.media_ref -> f.fingerprint).toMap)

    // shared refs across duplicate docs collapse in fingerprint dedup
    val dedup = Media.dedupByFingerprint(feats).collect()
    assert(dedup.map(_._2).sum === nRefs.toLong)
    assert(dedup.exists(_._2 > 1), "fixture shares media refs within entities")
  }

  test("media resize + frame sampling: typed batched plumbing, deterministic stubs") {
    val feats = Media.extractFeatures(Media.mediaTable(Fixtures.docs(spark, 40)))
    val resized = Media.resize(feats, maxW = 64, maxH = 48).collect()
    assert(resized.length === feats.count())
    resized.foreach { r =>
      assert(r.width >= 1 && r.width <= 64)
      assert(r.height >= 1 && r.height <= 48)
    }
    // aspect preserved within integer truncation for the downscaled ones
    val byRef = feats.collect().map(f => f.media_ref -> f).toMap
    resized.filter(r => byRef(r.media_ref).width > 64).foreach { r =>
      val f = byRef(r.media_ref)
      val expScale = math.min(64.0 / math.max(1, f.width), 48.0 / math.max(1, f.height))
      assert(r.width === math.max(1, (math.max(1, f.width) * expScale).toInt))
    }

    val frames = Media.sampleFrames(feats, everyN = 8).collect()
    val nVideos = feats.filter(_.kind == "video").count()
    if (nVideos > 0) {
      assert(frames.nonEmpty)
      assert(frames.forall(_.frame_ix % 8 === 0))
      // deterministic across runs
      val again = Media.sampleFrames(feats, everyN = 8).collect()
      assert(frames.map(f => (f.media_ref, f.frame_ix, f.frame_fingerprint)).toSet ===
        again.map(f => (f.media_ref, f.frame_ix, f.frame_fingerprint)).toSet)
    }
  }

  test("media table extracts one row per media span with payload bytes") {
    val docs = Fixtures.docs(spark, 100)
    val media = Media.mediaTable(docs)
    val nSpans = docs.selectExpr("size(filter(spans, s -> s.kind = 'media'))")
      .as[Int].collect().sum
    assert(media.count() == nSpans)
    val row = media.head()
    assert(row.bytes.nonEmpty && row.media_ref.startsWith("m://"))
    assert(Set("image", "audio", "video").contains(row.kind))
  }

  test("batched feature extraction is deterministic and batch-size-invariant") {
    val docs = Fixtures.docs(spark, 60)
    val media = Media.mediaTable(docs)
    val f1 = Media.extractFeatures(media, batchSize = 4).collect()
      .sortBy(r => (r.doc_id, r.media_ref))
    val f2 = Media.extractFeatures(media.repartition(5), batchSize = 17).collect()
      .sortBy(r => (r.doc_id, r.media_ref))
    assert(f1.length == f2.length && f1.length > 0)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.fingerprint == b.fingerprint && a.n_bytes == b.n_bytes)
      assert(a.embedding.toSeq == b.embedding.toSeq)
      assert(a.embedding.length == 8)
      assert(a.width >= 0 && a.width < 640 && a.height >= 0 && a.height < 480)
    }
  }

  test("shared media_ref across duplicate docs yields shared fingerprints (dedup signal)") {
    val docs = Fixtures.docs(spark, 80)
    val feats = Media.extractFeatures(Media.mediaTable(docs))
    val groups = Media.dedupByFingerprint(feats).collect()
    assert(groups.exists(_._2 > 1), "expected at least one shared media payload")
    // same ref => same fingerprint (payload fetch is ref-deterministic)
    val byRef = feats.collect().groupBy(_.media_ref)
    byRef.values.foreach(g => assert(g.map(_.fingerprint).distinct.length == 1))
  }

  test("stateful exact-dedup stream: first-seen vs duplicate across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Doc]
    val decisions = IncrementalLink.dedupStream(input.toDS())
    val q = decisions.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .start()
    try {
      val all = Fixtures.docs(spark, 40).collect().sortBy(_.doc_id)
      // duplicate payload: re-send the first doc under a new id in batch 2
      val dupDoc = all.head.copy(doc_id = "zz_dup_of_first")
      input.addData(all.take(20).toSeq)
      q.processAllAvailable()
      input.addData(all.drop(20).toSeq :+ dupDoc)
      q.processAllAvailable()
      val out = spark.table("dedup_out").as[IncrementalLink.DedupDecision].collect()
      assert(out.length == all.length + 1)
      val dup = out.find(_.doc_id == "zz_dup_of_first").get
      assert(dup.duplicate_of.contains(all.head.doc_id),
        s"expected duplicate_of=${all.head.doc_id}, got $dup")
      // every original doc with unique content is first-seen
      assert(out.count(_.duplicate_of.isEmpty) == out.map(_.fingerprint).distinct.length)
    } finally q.stop()
  }

  test("incremental linkage via foreachBatch matches the batch pipeline's edges") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val config = MatchConfig.fixture
    val input = MemoryStream[Doc]
    val q = IncrementalLink.linkStream(
      input.toDS(), config, s"$dir/corpus", s"$dir/edges", s"$dir/ckpt")
    try {
      val all = Fixtures.docs(spark, 150).collect().sortBy(_.doc_id)
      val (b1, b2) = all.splitAt(75)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()

      val streamed = spark.read.parquet(s"$dir/edges")
        .select("a_id", "b_id").as[(String, String)].collect().toSet
      // batch oracle on the same docs
      val docs = Fixtures.docs(spark, 150)
      val records = ErPipeline.extract(docs, config)
      val (pairIds, _) = ErPipeline.pairs(ErPipeline.block(records))
      val batch = ErPipeline.matchEdges(ErPipeline.score(pairIds, records, config), config)
        .as[(String, String)].collect().toSet
      assert(streamed == batch,
        s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
    } finally q.stop()
  }
}
