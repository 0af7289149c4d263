package graft.streaming

import graft.pipeline.{Extraction, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  private def writeTranscripts(): String = {
    val dir = Files.createTempDirectory("graftstream").toString
    Transcripts.synthesize(spark, sfDir).write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming mention extraction equals the batch path") {
    import spark.implicits._
    val dir = writeTranscripts()
    val stream = StreamingExtraction.mentionStream(spark,
      StreamingExtraction.turnStream(spark, dir))
    val q = stream.writeStream.format("memory").queryName("mentions_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("mentions_stream").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(4))).toSet
    val batch = Extraction.mentions(spark, Transcripts.turns(spark, sfDir)).collect()
      .map(m => (m.conv_id, m.turn_idx, m.entity_id, m.n_hits)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming exact dedup drops duplicates across micro-batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftdedup").toString
    Seq((1L, "text A"), (2L, "text B"), (3L, "text A"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = StreamingExtraction.streamingExactDedup(spark,
      spark.readStream.schema(schema).parquet(dir))
    val q = stream.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    // second micro-batch: one cross-batch duplicate, one new text
    Seq((4L, "text A"), (5L, "text C"))
      .toDF("doc_id", "text").write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_stream").collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false, 5L -> true))
  }

  test("watermarked windowed mention counts complete and match batch aggregation") {
    val dir = writeTranscripts()
    val agg = StreamingExtraction.windowedMentionCounts(spark,
      StreamingExtraction.turnStream(spark, dir))
    val q = agg.writeStream.format("memory").queryName("windowed_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("windowed_stream")
    // append mode emits only watermark-closed windows; on a finite batch the
    // final windows stay open, so compare the closed subset against batch
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val batchAgg = Extraction.mentions(spark, turns).toDF()
      .join(turns.toDF().select("conv_id", "turn_idx", "ts"), Seq("conv_id", "turn_idx"))
      .groupBy(window(col("ts"), "10 minutes"), col("entity_id"))
      .agg(count(lit(1)).as("n_mentions"))
      .select(col("window.start").as("window_start"), col("entity_id"), col("n_mentions"))
    val got = streamed.select("window_start", "entity_id", "n_mentions").collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val exp = batchAgg.collect()
      .map(r => (r.get(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    got.foreach { case (k, v) => assert(exp(k) == v, s"window $k") }
  }

  test("streaming session_window sessions close on watermark and match the batch operator") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    // user 1: two sessions (5-min pair, then a lone event 2h later);
    // user 99's far-future sentinel pushes the watermark past both closes
    val events = Seq(
      (1L, ts(0), 1L, "view", 1.0), (1L, ts(5), 2L, "view", 7.0),
      (1L, ts(120), 3L, "view", 2.0),
      (99L, ts(60 * 48), 4L, "view", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val dir = Files.createTempDirectory("graftsess").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = StreamingExtraction.streamingSessions(spark, stream)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions_stream").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    // user 1's two closed sessions emitted; the sentinel's own stays open
    val batch = graft.ops.Sessionize.sessions(events).collect()
      .map(r => (r.getLong(0), r.getLong(3) / 1000) -> ((r.getLong(2), r.getDouble(5))))
      .toMap
    assert(streamed.keySet == Set((1L, 0L), (1L, 120L * 60000L)))
    streamed.foreach { case (k, v) => assert(batch(k) == v, s"session $k") }
  }

  test("incremental graph: delta snapshots per batch, checkpoint resume, == batch pipeline") {
    import spark.implicits._
    import graft.pipeline.Canonicalize
    val inDir = Files.createTempDirectory("graftinc-in").toString
    val catRoot = Files.createTempDirectory("graftinc-cat").toString
    val ckpt = Files.createTempDirectory("graftinc-ckpt").toString
    val iri = "urn:graft:incremental"
    val allTurns = Transcripts.turns(spark, sfDir)
    // the canonicalization dimension: the periodic batch rebuild's output
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, allTurns),
      Extraction.mentions(spark, allTurns).toDF().select(col("entity_id")).distinct())
    val convIds = allTurns.select("conv_id").distinct().as[String].collect().sorted
    val (firstHalf, secondHalf) = convIds.splitAt(convIds.length / 2)
    // growth step 1: the first half of the conversations arrives
    allTurns.toDF().where(col("conv_id").isin(firstHalf.toIndexedSeq: _*))
      .write.mode("append").parquet(inDir)
    StreamingExtraction.incrementalGraph(spark, inDir, canonical, catRoot, iri, ckpt)
    val cat = new graft.catalog.ParquetSnapshotCatalog(spark, catRoot)
    assert(cat.snapshots(iri) == Seq(1L))
    val afterFirst = cat.count(iri)
    assert(afterFirst > 0)
    // growth step 2: the rest arrives; ONLY the new files are processed and
    // appended as a delta snapshot
    allTurns.toDF().where(col("conv_id").isin(secondHalf.toIndexedSeq: _*))
      .write.mode("append").parquet(inDir)
    StreamingExtraction.incrementalGraph(spark, inDir, canonical, catRoot, iri, ckpt)
    assert(cat.snapshots(iri) == Seq(1L, 2L))
    assert(cat.count(iri) > afterFirst)
    // restart with NO new data: the checkpoint reprocesses nothing — no new
    // snapshot, content unchanged
    StreamingExtraction.incrementalGraph(spark, inDir, canonical, catRoot, iri, ckpt)
    assert(cat.snapshots(iri) == Seq(1L, 2L))
    // the incrementally-built graph equals the batch pipeline's triple set
    val streamedSet = cat.read(iri)._2
      .select("s", "p", "o", "o_kind").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val batchSet = Extraction.triples(
      Extraction.mentions(spark, allTurns), canonical, allTurns.toDF())
      .select("s", "p", "o", "o_kind").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(streamedSet == batchSet)
    assert(streamedSet.nonEmpty)
    // set semantics from the first snapshot on: no duplicate rows anywhere
    assert(cat.count(iri) == batchSet.size)
  }

  test("incremental graph with in-job maintenance keeps snapshot history bounded") {
    import spark.implicits._
    import graft.pipeline.Canonicalize
    val inDir = Files.createTempDirectory("graftincm-in").toString
    val catRoot = Files.createTempDirectory("graftincm-cat").toString
    val ckpt = Files.createTempDirectory("graftincm-ckpt").toString
    val iri = "urn:graft:incremental-maint"
    val allTurns = Transcripts.turns(spark, sfDir)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, allTurns),
      Extraction.mentions(spark, allTurns).toDF().select(col("entity_id")).distinct())
    val convIds = allTurns.select("conv_id").distinct().as[String].collect().sorted
    val (firstHalf, secondHalf) = convIds.splitAt(convIds.length / 2)
    def grow(ids: Array[String]): Unit = {
      allTurns.toDF().where(col("conv_id").isin(ids.toIndexedSeq: _*))
        .write.mode("append").parquet(inDir)
      StreamingExtraction.incrementalGraph(spark, inDir, canonical, catRoot, iri, ckpt,
        compactEvery = 1, keepSnapshots = 1)
    }
    grow(firstHalf)
    val cat = new graft.catalog.ParquetSnapshotCatalog(spark, catRoot)
    grow(secondHalf)
    // the second batch appended a delta, then maintenance compacted the
    // chain and expired history: exactly ONE retained snapshot, content
    // identical to the unmaintained incremental run
    assert(cat.snapshots(iri).size == 1)
    val got = cat.read(iri)._2
      .select("s", "p", "o", "o_kind").distinct().count()
    val expected = Extraction.triples(
      Extraction.mentions(spark, allTurns), canonical, allTurns.toDF())
      .select("s", "p", "o", "o_kind").distinct().count()
    assert(got == expected && got > 0)
  }

  test("periodic canonicalization refresh merges cross-batch-linkable pairs retroactively") {
    import spark.implicits._
    import graft.pipeline.Canonicalize
    val inDir = Files.createTempDirectory("graftincr-in").toString
    val catRoot = Files.createTempDirectory("graftincr-cat").toString
    val ckpt = Files.createTempDirectory("graftincr-ckpt").toString
    val iri = "urn:graft:incremental-refresh"
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // batch 1: "sort" alone — entity ent:sort, no edge involving it;
    // batch 2: "sort merge" — the overlap edge (ent:sort, ent:sort_merge)
    // exists ONLY in batch 2, so the pair is linkable only cross-batch
    val batch1 = Seq(("c1", 0, "user", "please sort the rows", null: String, ts),
      ("c1", 1, "assistant", "we scan the table first", null: String, ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val batch2 = Seq(("c2", 0, "user", "use a sort merge strategy", null: String, ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    // the caller-provided dimension starts EMPTY (identity mapping): the
    // in-job refresh is what builds the real one
    val identity = Seq.empty[(String, String)].toDF("entity_id", "canonical_id")
    def run(): Unit = StreamingExtraction.incrementalGraph(
      spark, inDir, identity, catRoot, iri, ckpt, refreshCanonicalEvery = 1)
    batch1.write.mode("append").parquet(inDir)
    run()
    val cat = new graft.catalog.ParquetSnapshotCatalog(spark, catRoot)
    def mentionObjs() = cat.read(iri)._2
      .where(col("p") === "urn:graft:mentions").select("s", "o").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // after batch 1's refresh: the tab—table overlap merged (identity
    // dimension notwithstanding), sort is its own singleton
    val after1 = mentionObjs()
    assert(after1.contains(("urn:conv:c1", "urn:ent:sort")))
    assert(after1.contains(("urn:conv:c1", "urn:ent:tab"))) // rep of {tab, table}
    assert(!after1.exists(_._2 == "urn:ent:table")) // merged away by refresh 1
    batch2.write.mode("append").parquet(inDir)
    run()
    val after2 = mentionObjs()
    // the cross-batch pair merged: sort_merge canonicalizes to ent:sort
    // (min-id rep), and NO triple keeps the unmerged id
    assert(after2.contains(("urn:conv:c2", "urn:ent:sort")))
    assert(!after2.exists(_._2 == "urn:ent:sort_merge"))
    // the refreshed graph equals the batch pipeline on the same data with a
    // full-corpus canonicalization — the "periodic batch rebuild" contract
    val allTurns = batch1.unionByName(batch2).as[graft.model.Turn]
    val fullCanonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, allTurns),
      Extraction.mentions(spark, allTurns).toDF().select(col("entity_id")).distinct())
    val batchSet = Extraction.triples(
      Extraction.mentions(spark, allTurns), fullCanonical, allTurns.toDF())
      .select("s", "p", "o", "o_kind").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val streamedSet = cat.read(iri)._2
      .select("s", "p", "o", "o_kind").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(streamedSet == batchSet)
    assert(streamedSet.nonEmpty)
  }

  test("incremental ANN index: streamed appends equal a from-scratch build; restart no-ops") {
    import graft.ops.Ann
    val inDir = Files.createTempDirectory("graftann-in").toString
    val ckpt = Files.createTempDirectory("graftann-ckpt").toString
    val tmp = Files.createTempDirectory("graftann-idx")
    val idx = tmp.toString + "/idx"
    val embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = Ann.trainIvfCentroids(embeddings).map(_.toSeq).toSeq
    val half1 = embeddings.where(col("vec_id") % 2 === 0)
    val half2 = embeddings.where(col("vec_id") % 2 =!= 0)
    def run(): Unit =
      StreamingExtraction.incrementalAnnIndex(spark, inDir, idx, cents, ckpt)
    half1.write.mode("append").parquet(inDir)
    run()
    val afterFirst = Ann.ivfIndexStats(spark, idx).total
    assert(afterFirst == half1.count())
    half2.write.mode("append").parquet(inDir)
    run()
    assert(Ann.ivfIndexStats(spark, idx).total == embeddings.count())
    // restart with no new data: the checkpoint reprocesses nothing
    run()
    assert(Ann.ivfIndexStats(spark, idx).total == embeddings.count())
    // queries over the streamed index == a from-scratch index (same centroids)
    val full = tmp.toString + "/full"
    Ann.writeIvfIndex(embeddings, full, cents)
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(asSet(Ann.ivfTopKIndexed(spark, idx, embeddings, queryIds, 10, cents)) ==
      asSet(Ann.ivfTopKIndexed(spark, full, embeddings, queryIds, 10, cents)))
  }

  test("flatMapGroupsWithState tracks per-conversation running entity counts") {
    val dir = writeTranscripts()
    val updates = StreamingExtraction.conversationState(spark,
      StreamingExtraction.turnStream(spark, dir))
    val q = updates.writeStream.format("memory").queryName("conv_state")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("conv_state").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(rows.nonEmpty)
    // every conversation saw all its turns; entity counts are plausible and bounded
    rows.values.foreach { case (nTurns, nEnts) =>
      assert(nTurns > 0 && nEnts > 0 && nEnts <= graft.pipeline.Gazetteer.entityIds.length)
    }
    // cross-check one conversation against the batch mention table
    import spark.implicits._
    val batch = Extraction.mentions(spark, Transcripts.turns(spark, sfDir))
      .toDF().groupBy("conv_id").agg(countDistinct("entity_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    batch.foreach { case (conv, n) => assert(rows(conv)._2 == n, s"conv $conv") }
  }
}
