package graft.pipeline

import graft.catalog.ParquetSnapshotCatalog
import graft.model.Turn
import graft.rdf.{DistributedRdf, RdfFormat}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/**
 * End-to-end KG-construction pipeline (BASELINE.json north_star T1-T7):
 *
 *   transcripts → mentions (T1+T2) → link edges → canonical entities (T4)
 *   → triples (T3) → materialized graph tables (T5) → serializations (T6)
 *   → metrics (T7)
 *
 * Exactly-once resume (SURVEY §4/§7): every stage commits its output to
 * `<workDir>/<stage>/vN` parquet + an atomically-renamed `_COMMIT.json`
 * manifest. A rerun skips any stage whose manifest exists (validated by row
 * count), so a job killed after stage N restarts at stage N+1 and produces
 * byte-identical output. On an Iceberg-equipped cluster the same structure
 * maps to table snapshots — the commit protocol, not the file layout, is
 * the contract.
 *
 * Per-stage lineage + throughput metrics land in `<workDir>/metrics` as a
 * table (stage, rows, partitions, seconds, rows_per_sec, input_stages).
 */
object Pipeline {

  /** The named graph T5 commits the triple set to. */
  private val GraphIri = "urn:graft:conversation-graph"

  final case class StageMetric(
      stage: String, rows: Long, partitions: Int, seconds: Double,
      rows_per_sec: Double, input_stages: String)

  /**
   * Stage commits go through `org.apache.hadoop.fs.FileSystem` with the
   * session's Hadoop configuration, so `workDir` may be ANY Hadoop URI
   * (file://, hdfs://, s3a://) — the same contract as the data writes.
   * Commit = write `._COMMIT.tmp` + rename: atomic on HDFS/local; on S3 a
   * rename is copy+delete, so a concurrently-resumed job could observe a
   * torn commit there (same caveat as ParquetSnapshotCatalog — pin the tiny
   * manifest root to an atomic-rename filesystem in production).
   */
  final class Runner(spark: SparkSession, workDir: String) {
    private val metrics = scala.collection.mutable.ArrayBuffer.empty[StageMetric]
    private def fs: FileSystem =
      new HPath(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    private def stageDir(name: String) = new HPath(workDir, name)
    private def manifest(name: String) = new HPath(stageDir(name), "_COMMIT.json")

    def isDone(name: String): Boolean = fs.exists(manifest(name))

    /** Committed row count from a stage's `_COMMIT.json`, -1 if absent. */
    private def committedRows(name: String): Long = {
      val in = fs.open(manifest(name))
      val bytes = try in.readAllBytes() finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
      if (node.has("rows")) node.get("rows").asLong() else -1L
    }

    private[pipeline] def commitMarker(name: String, body: String): Unit = {
      val dir = stageDir(name)
      fs.mkdirs(dir)
      val tmp = new HPath(dir, "._COMMIT.tmp")
      val os = fs.create(tmp, true)
      try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      if (!fs.rename(tmp, manifest(name)))
        throw new java.io.IOException(s"stage commit rename failed for $name (concurrent run?)")
    }

    /** Run (or resume) a stage: compute, commit, return the committed data. */
    def stage(name: String, inputs: Seq[String])(compute: => DataFrame): DataFrame = {
      val dataPath = new HPath(stageDir(name), "data").toString
      if (isDone(name)) {
        val df = spark.read.parquet(dataPath)
        // resume validation: the manifest's committed row count vs the data
        // actually on disk. A torn/truncated data dir under an intact
        // _COMMIT.json (partial restore, manual deletion) must fail loudly,
        // not resume silently with wrong data. Cost: ONE zero-column count
        // job per resumed stage (parquet count materializes no columns).
        val committed = committedRows(name)
        val actual = df.count()
        if (committed >= 0 && actual != committed)
          throw new IllegalStateException(
            s"stage $name resume validation failed: _COMMIT.json records $committed rows " +
              s"but $dataPath holds $actual — the stage data was modified after commit; " +
              s"delete ${stageDir(name)} to recompute")
        metrics += StageMetric(name, actual, df.rdd.getNumPartitions, 0.0, 0.0,
          inputs.mkString(",") + " [resumed]")
        return df
      }
      val t0 = System.nanoTime()
      val df = compute
      // the row count rides the write job as an observe metric — the old
      // count-back re-read was a full second pass over the output per stage
      // (the same fix ScalingBench got in round 3)
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode("overwrite").parquet(dataPath)
      val rows = obs.get("rows").asInstanceOf[Long]
      // schema supplied from the plan we just wrote: parquet schema
      // inference would otherwise launch its own footer-reading job
      val out = spark.read.schema(df.schema).parquet(dataPath)
      val secs = (System.nanoTime() - t0) / 1e9
      commitMarker(name, s"""{"stage": "$name", "rows": $rows, "seconds": $secs}""")
      metrics += StageMetric(name, rows, out.rdd.getNumPartitions, secs,
        if (secs > 0) rows / secs else 0.0, inputs.mkString(","))
      out
    }

    def writeMetrics(): Unit = {
      import spark.implicits._
      metrics.toSeq.toDF().write.mode("append").parquet(s"$workDir/metrics")
    }

    def collectedMetrics: Seq[StageMetric] = metrics.toSeq
  }

  /**
   * Full run. Returns the triple DataFrame for downstream use.
   * @param sfDir      testdata scale-factor dir (documents.parquet source)
   * @param workDir    pipeline working/output directory
   * @param dedupFirst when true, the composed dedup pipeline
   *                   ([[graft.ops.DedupPipeline]]) runs as a resumable
   *                   pre-stage and only `keep` documents enter the KG
   *                   dataflow — the production corpus-hygiene composition
   *                   (dedup feeds extraction), off by default so the
   *                   oracle-pinned outputs are unchanged
   */
  /** Stage manifests are keyed by name only, so a workDir is bound to ONE
    * pipeline configuration: resuming with a different `dedupFirst` would
    * silently reuse the other configuration's committed t0 output. The
    * config manifest makes that an error instead. */
  private def checkConfig(spark: SparkSession, workDir: String, dedupFirst: Boolean): Unit = {
    val fs = new HPath(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new HPath(workDir, "_CONFIG.json")
    val cfg = s"""{"dedup_first": $dedupFirst}"""
    if (fs.exists(p)) {
      val in = fs.open(p)
      val prev = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      if (prev != cfg)
        throw new IllegalArgumentException(
          s"workDir $workDir was created with config $prev; rerun with the same " +
            s"configuration or use a fresh workDir (requested $cfg)")
    } else {
      fs.mkdirs(new HPath(workDir))
      val os = fs.create(p, true)
      try os.write(cfg.getBytes(StandardCharsets.UTF_8)) finally os.close()
    }
  }

  def run(spark: SparkSession, sfDir: String, workDir: String,
          dedupFirst: Boolean = false): DataFrame = {
    import spark.implicits._
    checkConfig(spark, workDir, dedupFirst)
    val runner = new Runner(spark, workDir)

    val docs =
      if (!dedupFirst) Transcripts.documents(spark, sfDir)
      else {
        // the stage writes (materializes) inside the scope, so the dedup
        // intermediates' caches are released the moment the stage commits
        val verdicts = graft.ops.CacheScope.withScope { scope =>
          runner.stage("t0a_dedup", Seq("documents")) {
            graft.ops.DedupPipeline.run(spark, Transcripts.documents(spark, sfDir),
              scope = scope)
          }
        }
        Transcripts.documents(spark, sfDir)
          .join(verdicts.where(col("keep")).select("doc_id"), Seq("doc_id"), "leftsemi")
      }

    val transcripts = runner.stage("t0_transcripts", Seq("documents")) {
      // repartition by conv_id: the extraction stage's unit of parallelism
      Transcripts.fromDocuments(docs).repartition(col("conv_id"))
    }

    val mentions = runner.stage("t1_mentions", Seq("t0_transcripts")) {
      Extraction.mentions(spark, transcripts.as[Turn]).toDF()
    }

    val edges = runner.stage("t2_link_edges", Seq("t1_mentions")) {
      Extraction.linkEdges(mentions.as[Mention])
    }

    val canonical = runner.stage("t4_canonical", Seq("t2_link_edges", "t1_mentions")) {
      Canonicalize.connectedComponents(spark, edges,
        mentions.select(col("entity_id")).distinct())
    }

    val triples = runner.stage("t3_triples", Seq("t1_mentions", "t4_canonical", "t0_transcripts")) {
      Extraction.triples(mentions.as[Mention], canonical, transcripts)
    }

    // T5: materialize as a named graph in the catalog (partitioned,
    // snapshotted); the catalog commit drops provenance duplicates
    lazy val catalog = new ParquetSnapshotCatalog(spark, s"$workDir/catalog")
    if (!runner.isDone("t5_materialize")) {
      catalog.write(GraphIri, Extraction.tripleRows(triples))
      runner.commitMarker("t5_materialize", "{}")
    }

    // T6: rdfx-compatible serialization of the committed graph as NT shards
    if (!runner.isDone("t6_serialize")) {
      DistributedRdf.writeNt(catalog.read(GraphIri)._2, s"$workDir/t6_serialize/nt")
      runner.commitMarker("t6_serialize", "{}")
    }

    runner.writeMetrics()
    triples
  }
}

/** spark-submit entry point: RunPipeline <sfDir> <workDir> [cpus] */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft-pipeline"
    val cpus = if (args.length > 2) args(2) else sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-kg-pipeline")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val triples = Pipeline.run(spark, sfDir, workDir)
    val n = triples.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"""{"triples": $n, "seconds": $secs%.2f, "triples_per_sec": ${n / secs}%.0f}""")
    spark.stop()
  }
}
