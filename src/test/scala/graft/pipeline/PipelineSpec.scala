package graft.pipeline

import graft.model._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Independent in-test oracle: substring counting via indexOf. */
  private def expectedMentions(text: String): Map[String, (Int, Int)] =
    Gazetteer.entries.flatMap { case (surface, ent) =>
      var count = 0
      var first = -1
      var i = text.indexOf(surface)
      if (i >= 0) first = i
      while (i >= 0) { count += 1; i = text.indexOf(surface, i + 1) }
      if (count > 0) Some(ent -> (count, first)) else None
    }.toMap

  test("mention detection matches the independent substring oracle (P/R = 1.0)") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val got = Extraction.mentions(spark, turns).collect()
      .map(m => (m.conv_id, m.turn_idx, m.entity_id) -> (m.n_hits.toInt, m.first_pos.toInt))
      .toMap
    val texts = turns.collect()
    var checked = 0
    texts.foreach { t =>
      val exp = expectedMentions(t.text)
      exp.foreach { case (ent, (n, first)) =>
        assert(got((t.conv_id, t.turn_idx, ent)) == (n, first),
          s"mismatch for $ent in ${t.conv_id}:${t.turn_idx}")
        checked += 1
      }
      // no false positives for this turn
      val gotEnts = got.keys.filter(k => k._1 == t.conv_id && k._2 == t.turn_idx).map(_._3).toSet
      assert(gotEnts == exp.keySet)
    }
    assert(checked > 1000) // the corpus actually exercises the matcher
  }

  test("overlapping multi-token surfaces are matched across word boundaries") {
    import spark.implicits._
    val turns = Seq(
      Turn("c0", 0, "user", "the table scan is a table scan indeed", null,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()
    val m = Extraction.mentions(spark, turns).collect()
    val byEnt = m.map(x => x.entity_id -> x).toMap
    assert(byEnt("ent:table_scan").n_hits == 2)
    assert(byEnt("ent:table_scan").first_pos == 4)
    assert(byEnt("ent:table").n_hits == 2)
    assert(byEnt("ent:tab").first_pos == 4) // prefix alias at the same offset
    assert(byEnt("ent:scan").n_hits == 2)
  }

  test("byte-offset edges equal char-offset edges with multibyte text before the match") {
    import spark.implicits._
    // '中文 ' is 7 UTF-8 bytes / 3 chars before the hit: byte offsets differ
    // from char offsets absolutely, but same-offset EQUALITY within a turn
    // is preserved — the invariant the byte-level DFA relies on
    val turns = Seq(
      Turn("mb", 0, "user", "中文 table scan é plus hash join", null,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()
    val fused = Extraction.linkEdgesFused(spark, turns).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val joined = Extraction.linkEdges(Extraction.mentions(spark, turns)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(fused == joined)
    assert(fused.nonEmpty) // 'table'/'table scan'/'tab' overlap at one offset
    // the zero-copy UTF8String DFA (MentionSlots) handles multibyte text
    // identically: fused triples == compositional triples on this input
    val m = Extraction.mentions(spark, turns)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, turns),
      m.toDF().select(col("entity_id")).distinct())
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getString(4), r.getInt(5))).toSet
    assert(asSet(Extraction.triplesFused(spark, turns, canonical)) ==
      asSet(Extraction.triples(m, canonical, turns.toDF())))
  }

  test("fused link edges equal the generic join-based implementation") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val m = Extraction.mentions(spark, turns)
    val joined = Extraction.linkEdges(m).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val fused = Extraction.linkEdgesFused(spark, turns).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(fused == joined)
    assert(fused.nonEmpty)
  }

  test("fused triples equal the compositional mentions+union implementation") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val m = Extraction.mentions(spark, turns)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, turns),
      m.toDF().select(col("entity_id")).distinct())
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getString(4), r.getInt(5))).toSet
    val compositional = asSet(Extraction.triples(m, canonical, turns.toDF()))
    val fused = asSet(Extraction.triplesFused(spark, turns, canonical))
    assert(fused == compositional)
    assert(fused.nonEmpty)
  }

  test("salted-shuffle canonical join equals the broadcast path (both fused and compositional)") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val m = Extraction.mentions(spark, turns)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, turns),
      m.toDF().select(col("entity_id")).distinct())
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getString(4), r.getInt(5))).toSet
    val broadcastPath = asSet(Extraction.triples(m, canonical, turns.toDF()))
    // entityBroadcastLimit = 0 forces the above-threshold salted join
    val saltedPath = asSet(Extraction.triples(m, canonical, turns.toDF(),
      entityBroadcastLimit = 0L))
    val fusedSalted = asSet(Extraction.triplesFused(spark, turns, canonical,
      entityBroadcastLimit = 0L))
    assert(saltedPath == broadcastPath)
    assert(fusedSalted == broadcastPath)
    assert(broadcastPath.nonEmpty)
  }

  test("fused triples: the per-turn slot fan-out runs inside WholeStageCodegen") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val m = Extraction.mentions(spark, turns)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, turns),
      m.toDF().select(col("entity_id")).distinct())
    val plan = Extraction.triplesFused(spark, turns, canonical)
      .queryExecution.executedPlan.toString()
    // the explode of the slot array and the triple-building projection must
    // be codegen'd ('* Generate' / '* Project'): the lambda emits one
    // compact row per turn and the ~15x triple fan-out happens in Tungsten
    assert("\\*\\(\\d+\\) Generate explode".r.findFirstIn(plan).isDefined,
      s"slot explode fell out of whole-stage codegen:\n$plan")
  }

  test("canonicalization produces transitive alias chains") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, sfDir)
    val m = Extraction.mentions(spark, turns)
    val canonical = Canonicalize.connectedComponents(spark,
      Extraction.linkEdgesFused(spark, turns),
      m.toDF().select(col("entity_id")).distinct()).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canonical("ent:table") == "ent:tab")
    assert(canonical("ent:table_scan") == "ent:tab")
    assert(canonical("ent:hash_join") == "ent:has")
    assert(canonical("ent:spark") == "ent:spark") // singleton unchanged
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .orderBy("doc_id").collect()
    val turns = Transcripts.synthesize(spark, sfDir)
      .orderBy(col("conv_id"), col("turn_idx")).collect()
    // invariant: every document text appears verbatim as exactly one turn
    val turnTexts = turns.map(r => r.getAs[String]("text"))
    assert(turnTexts.sorted.toSeq == docs.map(_.getAs[String]("text")).sorted.toSeq)
    // ordering within a conversation is stable and gap-free
    turns.groupBy(_.getAs[String]("conv_id")).foreach { case (_, rows) =>
      val idxs = rows.map(_.getAs[Int]("turn_idx")).sorted
      assert(idxs.sameElements(idxs.indices.map(_.toInt)))
    }
  }

  test("dedup-first pipeline: only kept documents enter the KG dataflow") {
    import java.nio.file.Files
    val work = Files.createTempDirectory("graftpipededup").toString
    val t = Pipeline.run(spark, sfDir, work, dedupFirst = true)
    val full = Pipeline.run(spark, sfDir, Files.createTempDirectory("graftpipefull").toString)
    val tRows = t.collect().map(_.toString).toSet
    val fullRows = full.collect().map(_.toString).toSet
    assert(tRows.nonEmpty)
    assert(tRows.subsetOf(fullRows)) // dedup only removes documents' turns
    assert(tRows.size < fullRows.size) // the corpus DOES contain near-dups
    // the dedup stage committed resumably like any other stage
    assert(Files.exists(java.nio.file.Paths.get(work, "t0a_dedup", "_COMMIT.json")))
    // a workDir is bound to its configuration: resuming with the opposite
    // dedupFirst must fail loudly, not silently reuse committed stages
    intercept[IllegalArgumentException](Pipeline.run(spark, sfDir, work))
  }

  test("dedup pipeline keys survive doc ids beyond 12 digits") {
    import spark.implicits._
    val big = 5000000000000L // > 10^12
    val d = Seq((big, "same text body here"), (big + 1, "same text body here"),
      (7L, "unique other text")).toDF("doc_id", "text")
    val got = graft.ops.DedupPipeline.run(spark, d, 0.8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(3))).toMap
    assert(got(big) == ((big, "kept")))
    assert(got(big + 1) == ((big, "exact_dup")))
    assert(got(7L) == ((7L, "kept")))
  }

  test("a stage runs exactly ONE Spark job: the row count rides the write") {
    import java.nio.file.Files
    val metrics = graft.obs.StageMetrics.install(spark.sparkContext)
    try {
      val work = Files.createTempDirectory("graftstagejobs").toString
      val runner = new Pipeline.Runner(spark, work)
      import spark.implicits._
      val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      metrics.inGroup("stage-s1")(runner.stage("s1", Seq("in")) { df })
      val jobs = metrics("stage-s1").jobs
      assert(jobs == 1, s"expected exactly 1 job for the stage (the write, with the " +
        s"count riding it as an observe metric), saw $jobs")
      assert(runner.collectedMetrics.head.rows == 3L)
    } finally metrics.remove()
  }

  test("resume validates committed row counts: a corrupted stage fails loudly") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graftpipecorrupt").toString
    Pipeline.run(spark, sfDir, work)
    // corrupt a committed stage UNDER its intact _COMMIT.json: duplicate a
    // parquet part file (a botched restore) — the dir still READS cleanly,
    // only the row count betrays it, which is exactly what resume validates.
    // (Deleting the only part file is caught too, but trivially — the read
    // itself fails; the dangerous case is readable-but-wrong.)
    val dataDir = Paths.get(work, "t1_mentions", "data")
    val part = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.maxBy(Files.size(_))
    Files.copy(part, dataDir.resolve("part-99999-deadbeef.snappy.parquet"))
    // the rerun must DETECT the mismatch instead of silently resuming with
    // wrong data
    val e = intercept[IllegalStateException](Pipeline.run(spark, sfDir, work))
    assert(e.getMessage.contains("t1_mentions"))
    assert(e.getMessage.contains("resume validation failed"))
  }

  test("T5 catalog and T6 N-Triples hold exactly the distinct T3 triple set") {
    val work = java.nio.file.Files.createTempDirectory("graftpipeset").toString
    val t3 = Pipeline.run(spark, sfDir, work)
    val distinct = t3.select("s", "p", "o", "o_kind").distinct().count()
    assert(t3.count() > distinct) // T3 is a provenance bag: duplicates exist
    val catalogRows = new graft.catalog.ParquetSnapshotCatalog(spark, s"$work/catalog")
      .count("urn:graft:conversation-graph")
    val ntLines = spark.read.text(s"$work/t6_serialize/nt")
      .where(length(col("value")) > 0).count()
    assert(catalogRows == distinct)
    assert(ntLines == distinct)
  }

  test("pipeline run is deterministic and resumable (file:// URI workDir)") {
    import java.nio.file.{Files, Paths}
    val localWork = Files.createTempDirectory("graftpipe").toString
    // the workDir is a Hadoop URI — stage commits and _CONFIG.json go
    // through FileSystem, so file:// (and s3a://hdfs://) roots all work
    val work = "file://" + localWork
    val t1 = Pipeline.run(spark, sfDir, work)
    val rows1 = t1.collect().map(_.toString).sorted
    // simulate crash: wipe the last stages, rerun
    def rm(p: String): Unit = {
      val d = Paths.get(localWork, p).toFile
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(del)
        f.delete()
      }
      if (d.exists) del(d)
    }
    rm("t3_triples"); rm("t4_canonical"); rm("t6_serialize")
    val t2 = Pipeline.run(spark, sfDir, work)
    val rows2 = t2.collect().map(_.toString).sorted
    assert(rows1.sameElements(rows2))
    assert(rows1.nonEmpty)
  }
}
