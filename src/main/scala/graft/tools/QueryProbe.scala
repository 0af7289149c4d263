package graft.tools

import graft.SparkEntry
import graft.obs.StageMetrics
import java.nio.file.{Files, Paths}
import java.util.Locale
import org.apache.spark.sql.SparkSession

/**
 * Per-query plan capture and noop-sink timing for named SparkEntry queries.
 * Not the driver bench: `graft.Bench` stays frozen.
 *
 * Usage: runMain graft.tools.QueryProbe <explain|time> <outDir> [query ...]
 *   explain — write <outDir>/<query>.txt with the formatted physical plan
 *   time    — run each query N times (default 3) against the noop sink in
 *             job group <query>; print one JSON line per query, and write
 *             them as one JSON array to <outDir>/noop_times.json: the
 *             per-rep seconds (`noop_secs`) and the group's task metrics
 *             summed over the reps
 * With no query names, every SparkEntry query.
 * Env: SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1), SPARK_GRAFT_CPUS,
 * SPARK_GRAFT_REPS (time mode).
 */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.props("user.home") + "/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    mode match {
      case "explain" =>
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
          println(s"[explain] $name -> $outDir/$name.txt")
        }
      case "time" =>
        // same warmup chain as the frozen bench so memoized stage artifacts
        // are built outside the timed region
        Seq("q_transcripts", "q_kg_triples", "q_graph_merge", "q_ann_topk",
          "q_minhash_sig", "q_lsh_pairs", "q_ngram_jaccard", "q_ann_lsh",
          "q_dedup_pipeline", "q_simhash_dups", "q_ann_ivf",
          "q_ann_ivf_indexed", "q_embed_dups_lsh").foreach { n =>
          try SparkEntry.queries.get(n).foreach(_(spark, sfDir).count())
          catch { case _: Throwable => () }
        }
        val metrics = StageMetrics.install(spark.sparkContext)
        val lines = names.map { name =>
          val times = metrics.inGroup(name) {
            (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, sfDir)
                .write.format("noop").mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            }
          }
          val secs = times.map(t => "%.3f".formatLocal(Locale.ROOT, t)).mkString(",")
          val line = s"""{"query":"$name","noop_secs":[$secs],${metrics(name).jsonFields}}"""
          println(line)
          line
        }
        Files.writeString(Paths.get(s"$outDir/noop_times.json"), lines.mkString("[\n", ",\n", "\n]\n"))
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
