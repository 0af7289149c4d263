package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What a workload needs: the session, the recorder and its arguments. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, seconds: Double,
                     trace: Boolean, selftest: Boolean, work: String,
                     args: Map[String, String]) {
  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))

  /** Run closed-loop units until `seconds` have passed (at least one);
    * `prepare` runs before each unit, outside its timer. */
  def loop(prepare: Int => Unit)(unit: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      prepare(i)
      rec.unit(unit(i))
      i += 1
    }
  }
}

/** A workload's results beyond what the recorder already holds. */
final class Outcome {
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Triples one unit processes, for `triples_per_s`. */
  var triplesPerUnit = 0.0
  /** Wall of the untraced unit a traced run makes for reconciliation. */
  var untracedUnitSeconds = Double.NaN
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Checks the self-test deliberately broke; each must report a failure. */
  val planted = mutable.ArrayBuffer.empty[String]

  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))
}

/** Order-free fingerprint of a row multiset: its size, its distinct size
  * and the sum of its distinct rows' hashes. */
final case class Digest(rows: Long, distinct: Long, hash: BigDecimal) {
  def sameSet(o: Digest): Boolean = distinct == o.distinct && hash == o.hash
}

object Digest {
  /** One digest per value of the string column `tag`, in one Spark job. */
  def byTag(df: DataFrame): Map[String, Digest] = {
    val cols = df.columns.filter(_ != "tag").map(col).toIndexedSeq
    df.groupBy(col("tag") +: cols: _*).agg(count(lit(1)).as("_n"))
      .groupBy(col("tag"))
      .agg(sum("_n"), count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)")))
      .collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3))))
      .toMap
  }

  def of(df: DataFrame): Digest = byTag(df.withColumn("tag", lit("all")))("all")

  /** Frames of one schema, each tagged with its key, as one frame. */
  def tagged(frames: Seq[(String, DataFrame)]): DataFrame =
    frames.map { case (t, df) => df.withColumn("tag", lit(t)) }.reduce(_ unionByName _)
}

object Main {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Executes every column of a frame and discards the rows. */
  def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally all.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = args("trace") == "1"
    val rec = new Recorder(spark, trace)
    val ctx = Ctx(spark, rec, args("seed").toLong, args("seconds").toDouble, trace,
      args.get("selftest").contains("1"), args("work"), args)
    val loadStart = Stats.loadAvg()
    val gcStart = Stats.gcSeconds()
    val t0 = System.nanoTime()
    val out = args("workload") match {
      case "kg_build" => KgBuild.run(ctx)
      case "kg_query" => KgQueryBench.run(ctx)
      case "rdf_roundtrip" => RdfRoundtrip.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    out.info("workload_s") = f"${(System.nanoTime() - t0) / 1e9}%.2f"
    val gcEnd = Stats.gcSeconds()
    val loadEnd = Stats.loadAvg()

    val unitS = Stats.median(rec.unitSeconds.toSeq)
    val opMs = rec.ops.map(_.seconds * 1e3).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (Stats.median(out.setupSeconds.toSeq), "s"),
      "unit_s_p50" -> (unitS, "s"),
      "triples_per_s" -> (out.triplesPerUnit / unitS, "1/s"),
      "op_ms_p50" -> (Stats.median(opMs), "ms"),
      "peak_rss_mb" -> (Stats.peakRssMb(), "MB"))
    out.layer("jvm.gc_s", gcEnd - gcStart, "s")
    out.layer("window.load_start", loadStart, "load")
    out.layer("window.load_end", loadEnd, "load")
    Stats.tail(opMs).foreach { case (pct, v) =>
      out.layer("ops.op_ms_tail", v, "ms")
      out.layer("ops.op_tail_pct", pct, "%")
    }
    out.layer("ops.op_samples", opMs.size, "count")
    out.layer("jvm.unit_cpu_s", Stats.median(rec.unitCpuSeconds.toSeq), "s")
    if (trace) {
      out.layer("trace_overhead_s", unitS - out.untracedUnitSeconds, "s")
      out.layer("trace.unaccounted_s", Stats.median(rec.unaccountedSeconds), "s")
    }
    out.info("setups") = out.setupSeconds.size.toString
    out.info("units") = rec.units.toString
    out.info("ops") = opMs.size.toString
    out.info("planted") = out.planted.mkString(",")
    out.info("unit_seconds") = rec.unitSeconds.map(s => f"$s%.3f").mkString(" ")
    out.info("unit_cpu_seconds") = rec.unitCpuSeconds.map(s => f"$s%.2f").mkString(" ")

    def metricsJson(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val json =
      s"""{"ops_attempted":${rec.ops.size},"ops_failed":${rec.ops.count(!_.ok)},""" +
        s""""end_to_end":${metricsJson(e2e)},"per_layer":${metricsJson(out.layers)},""" +
        s""""checks":${out.checks.map { case (n, ok, d) =>
          s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")},""" +
        s""""info":${out.info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")},""" +
        s""""spans":${rec.spansJson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), json)
    spark.stop()
  }
}
