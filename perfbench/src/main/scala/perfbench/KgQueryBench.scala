package perfbench

import graft.SparkEntry
import graft.catalog.ParquetSnapshotCatalog
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * kg_query: set-up builds SparkEntry's memoized graph artifacts for the
 * corpus and writes a base catalog graph. Each unit runs the KG and
 * graph-surface queries once each, then appends a seeded delta to a fresh
 * copy of the base catalog and reads it back (ask, count, select-limit,
 * diff, time travel). Every unit starts from the same catalog state.
 */
object KgQueryBench {
  final case class UnitResult(ask: Boolean, count: Long, selected: Int,
                              diff: Set[Row], inserts: Boolean, readAt: Long)

  val Graph = "urn:bench:kg"
  val Queries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
    n.startsWith("q_kg_") || n.startsWith("q_graph_") || n == "q_nt_lines" || n == "q_prefix_used")
  /** Queries whose builders materialize the memoized stage artifacts. */
  val ArtifactQueries = Seq("q_kg_mentions", "q_kg_entities", "q_kg_triples", "q_graph_merge",
    "q_kg_triangles")
  val CatalogOps = Seq("append", "ask", "count", "select_limit", "diff", "read_at")
  val DeltaRows = 1000
  val SelectLimit = 100

  private val rowSchema = StructType(Seq(
    StructField("s", StringType), StructField("s_kind", IntegerType),
    StructField("p", StringType), StructField("o", StringType),
    StructField("o_kind", IntegerType), StructField("o_dtype", StringType),
    StructField("o_lang", StringType)))

  private def copySnapshots(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from, "_snapshots")
    val all = java.nio.file.Files.walk(src)
    try all.forEach { p =>
      val dst = java.nio.file.Paths.get(to, "_snapshots").resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
      else java.nio.file.Files.copy(p, dst)
    } finally all.close()
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val out = new Outcome
    val corpus = c.arg("corpus")
    val base = s"${c.work}/catalog_base"

    // ---- set-up: stage artifacts and the base catalog graph
    val (baseId, setupS) = Main.timed {
      ArtifactQueries.foreach(q => SparkEntry.queries(q)(spark, corpus))
      val graph = SparkEntry.queries("q_graph_merge")(spark, corpus)
      new ParquetSnapshotCatalog(spark, base).write(Graph, graph.select(
        col("s"), lit(0).as("s_kind"), col("p"), col("o"), col("o_kind").cast("int").as("o_kind"),
        lit(null).cast("string").as("o_dtype"), lit(null).cast("string").as("o_lang")))
    }
    out.setupSeconds += setupS
    // untimed warm-up pass, so that plan compilation is not timed: it writes
    // every query's output for the DuckDB oracle check the runner makes
    val verify = s"${c.work}/verify"
    Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, corpus)
      val planted = c.selftest && q == "q_kg_triples"
      if (planted) out.planted += s"oracle.$q"
      (if (planted) df.except(df.limit(1)) else df)
        .coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(verify, "oracle_sql.json"),
      Queries.map(q => s"${Json.str(q)}: ${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}"))
    val baseDf = new ParquetSnapshotCatalog(spark, base).read(Graph)._2
    val baseCount = baseDf.count()
    // seeded delta: half duplicates of base rows, half new rows
    val dups = baseDf.orderBy(xxhash64(col("s"), col("p"), col("o"), lit(c.seed)))
      .limit(DeltaRows / 2).collect().toSeq
    val fresh = (0 until DeltaRows / 2).map(i =>
      Row(s"urn:bench:delta:${c.seed}:$i", 0, "urn:graft:mentions",
        s"urn:bench:entity:${(i * 7919 + c.seed) % 97}", 0, null, null))
    val deltaRows = dups ++ fresh
    def delta: DataFrame = spark.createDataFrame(java.util.Arrays.asList(deltaRows: _*), rowSchema)
    val expectedCount = baseDf.unionByName(delta).distinct().count()
    val expectedNew = delta.except(baseDf).collect().toSet

    val results = scala.collection.mutable.ArrayBuffer.empty[Option[UnitResult]]
    def unit(i: Int): Unit = {
      Queries.foreach(q => c.rec.op(s"query.$q")(Main.consume(SparkEntry.queries(q)(spark, corpus))))
      var cat: ParquetSnapshotCatalog = null
      var cur = baseId
      var (ask, count, selected, readAt) = (false, -1L, -1, -1L)
      var (diff, inserts) = (Set.empty[Row], false)
      val skipDelta = c.selftest && i == 0
      val ok = Seq(
        c.rec.op("catalog.append") {
          cat = new ParquetSnapshotCatalog(spark, s"${c.work}/cat_u$i")
          if (!skipDelta) cur = cat.write(Graph, delta, overwrite = false)
        },
        c.rec.op("catalog.ask") { ask = cat.ask(Graph) },
        c.rec.op("catalog.count") { count = cat.count(Graph) },
        c.rec.op("catalog.select_limit") { selected = cat.selectLimit(Graph, SelectLimit).collect().length },
        c.rec.op("catalog.diff") {
          val d = cat.diff(Graph, baseId, cur).collect()
          diff = d.map(x => Row(x.toSeq.init: _*)).toSet
          inserts = d.forall(_.getAs[String]("change") == "insert")
        },
        c.rec.op("catalog.read_at") { readAt = cat.readAt(Graph, baseId)._2.count() })
      results += Option.when(ok.forall(identity))(
        UnitResult(ask, count, selected, diff, inserts, readAt))
    }
    c.loop(i => copySnapshots(base, s"${c.work}/cat_u$i"))(unit)
    if (c.trace) {
      val i = results.size
      copySnapshots(base, s"${c.work}/cat_u$i")
      out.untracedUnitSeconds = Main.timed(c.rec.untraced(unit(i)))._2
    }

    // ---- output checks, outside the timed loop
    results.zipWithIndex.foreach { case (res, i) =>
      if (c.selftest && i == 0) out.planted ++= Seq(s"u$i.catalog_count", s"u$i.catalog_diff")
      res.foreach { r =>
        out.check(s"u$i.catalog_count", r.count == expectedCount,
          s"count ${r.count} vs distinct(base ∪ delta) $expectedCount")
        out.check(s"u$i.catalog_diff", r.diff == expectedNew && r.inserts,
          s"diff ${r.diff.size} rows vs ${expectedNew.size} new delta rows")
        out.check(s"u$i.catalog_read_at", r.readAt == baseCount, s"readAt ${r.readAt} vs $baseCount")
        out.check(s"u$i.catalog_ask", r.ask, "ask false on a non-empty graph")
        out.check(s"u$i.catalog_select_limit", r.selected == SelectLimit,
          s"selectLimit returned ${r.selected}")
      }
    }

    out.triplesPerUnit = baseCount.toDouble
    out.info("graph_triples") = baseCount.toString
    out.info("delta_rows") = s"${deltaRows.size} (${expectedNew.size} new)"
    out.info("queries") = Queries.size.toString
    if (c.trace) {
      val perUnit = Queries.map { q =>
        val n = s"query.$q"
        out.layer(s"$n.ms", Stats.median(c.rec.spanSeconds(n)) * 1e3, "ms")
        c.rec.spanStats(n)
      }.transpose
      out.layer("ops.query.cpu_s", Stats.median(perUnit.map(_.map(_.cpuNs / 1e9).sum)), "s")
      out.layer("ops.query.shuffle_mb", Stats.median(perUnit.map(_.map(_.shuffleMb).sum)), "MB")
      CatalogOps.foreach { op =>
        out.layer(s"catalog.$op.ms", Stats.median(c.rec.spanSeconds(s"catalog.$op")) * 1e3, "ms")
      }
    }
    out
  }
}
