package perfbench

import graft.model.TripleRow
import graft.rdf.{DistributedRdf, GraphOps, RdfFormat, RdfIo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * rdf_roundtrip: the convert/merge/serialize surface on a generated triple
 * table over G named graphs. Each unit writes and reads N-Triples, merges
 * two overlapping NT shard sets, writes and reads one document per graph in
 * Turtle, JSON-LD and RDF/XML, and runs the single-process GraphOps merge and
 * convert over a fixed subset of the per-graph files.
 */
object RdfRoundtrip {
  val Bid = "http://example.org/bench/vocab/bid"
  val Cols = Seq("s", "s_kind", "p", "o", "o_kind", "o_dtype", "o_lang")
  val Formats = Seq("turtle" -> RdfFormat.Turtle, "jsonld" -> RdfFormat.JsonLd,
    "rdfxml" -> RdfFormat.RdfXml)
  /** Full-table round trips per unit: NT, merge and the three formats. */
  val RoundTrips = 5
  val GraphOpsFiles = 4
  /** Where a unit writes each round trip's output, by check name. */
  val Outputs = Seq("nt" -> "nt", "merge" -> "merged", "turtle" -> "turtle",
    "jsonld" -> "jsonld", "rdfxml" -> "rdfxml", "graphops_merge" -> "graphops/merged.nt",
    "graphops_convert" -> "graphops/converted.ttl")

  private def graphNo: org.apache.spark.sql.Column =
    substring_index(col("graph_iri"), "/", -1).cast("int")

  private def docFile(dir: String, graph: Int, ext: String): String =
    s"$dir/${java.net.URLEncoder.encode(s"http://example.org/bench/graph/$graph", "UTF-8")}.$ext"

  /** Per tag: blank nodes renamed to their BID witness, then counted per triple:
    * equal multisets mean the round trip kept every triple and renamed
    * blank nodes one-to-one. */
  def canonical(tagged: DataFrame): DataFrame = {
    val bid = tagged.where(col("p") === Bid && col("s_kind") === 1)
      .select(col("tag"), col("s"), col("o"))
    val sb = bid.toDF("s_tag", "s_label", "s_bid")
    val ob = bid.toDF("o_tag", "o_label", "o_bid")
    tagged
      .join(sb, col("s_kind") === 1 && col("tag") === col("s_tag") && col("s") === col("s_label"),
        "left")
      .join(ob, col("o_kind") === 1 && col("tag") === col("o_tag") && col("o") === col("o_label"),
        "left")
      .select(col("tag"), when(col("s_kind") === 1, col("s_bid")).otherwise(col("s")).as("s"),
        col("s_kind"), col("p"),
        when(col("o_kind") === 1, col("o_bid")).otherwise(col("o")).as("o"),
        col("o_kind"), col("o_dtype"), col("o_lang"))
      .groupBy(col("tag") +: Cols.map(col): _*).count()
  }

  /** The source rows of `graphs` as `canonical` would see them, with the
    * copies a per-file blank-node scope gives a graph read from `copies`
    * files (ground triples collapse under set union). */
  def expected(src: DataFrame, graphs: Int => Boolean, copies: Int => Int, g: Int): DataFrame = {
    val sel = (0 until g).filter(graphs)
    val n = sel.map(i => i -> copies(i))
      .foldLeft(lit(1)) { case (acc, (i, k)) => when(graphNo === i, k).otherwise(acc) }
    src.where(graphNo.isin(sel: _*))
      .select(Cols.map(col) :+ when(col("s_kind") === 1 || col("o_kind") === 1, n)
        .otherwise(1).cast("long").as("count"): _*)
  }

  private def rows(spark: SparkSession, ts: Seq[TripleRow]): DataFrame = {
    import spark.implicits._
    ts.toDS().toDF()
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val out = new Outcome
    val g = c.arg("graphs").toInt
    val inOverlap = (i: Int) => i >= g / 4 && i < 3 * g / 4

    // ---- set-up, three times: load and cache the table, write the shards
    var src: DataFrame = null
    var (shardA, shardB) = ("", "")
    for (k <- 0 until 3) {
      if (src != null) src.unpersist(blocking = true)
      out.setupSeconds += Main.timed {
        src = spark.read.parquet(c.arg("triples")).persist(StorageLevel.MEMORY_ONLY)
        src.count()
        shardA = s"${c.work}/setup$k/shard_a"
        shardB = s"${c.work}/setup$k/shard_b"
        // one graph per shard file, so each file is one blank-node scope
        DistributedRdf.writeNt(src.where(graphNo < 3 * g / 4).repartition(col("graph_iri")), shardA)
        DistributedRdf.writeNt(src.where(graphNo >= g / 4).repartition(col("graph_iri")), shardB)
      }._2
    }
    val n = src.count()

    def unit(i: Int): Unit = {
      val d = s"${c.work}/u$i"
      c.rec.op("rdf.nt.write")(DistributedRdf.writeNt(src, s"$d/nt"))
      c.rec.op("rdf.nt.read")(Main.consume(DistributedRdf.readNt(spark, s"$d/nt").toDF()))
      c.rec.op("rdf.merge") {
        val merged = DistributedRdf.merge(Seq(
          DistributedRdf.readNtMerged(spark, shardA), DistributedRdf.readNtMerged(spark, shardB)))
        DistributedRdf.writeNt(merged.toDF(), s"$d/merged")
      }
      Formats.foreach { case (name, fmt) =>
        c.rec.op(s"rdf.$name.write")(DistributedRdf.writeDocsByGraph(src, s"$d/$name", fmt))
        c.rec.op(s"rdf.$name.read")(Main.consume(
          DistributedRdf.readDocs(spark, s"$d/$name/*", fmt).toDF()))
      }
      c.rec.op("rdf.graphops.merge")(GraphOps.mergeUris(
        (0 until GraphOpsFiles).map(docFile(s"$d/turtle", _, "ttl")), s"$d/graphops", "nt"))
      c.rec.op("rdf.graphops.convert")(GraphOps.convert(docFile(s"$d/jsonld", 0, "json-ld"),
        s"$d/graphops", "turtle", Some("converted"), Nil))
    }
    // untimed warm-up unit, so that class loading and JIT are not timed
    c.rec.unrecorded(unit(-1))
    Main.deleteDir(s"${c.work}/u-1")
    c.loop(_ => ())(unit)
    if (c.trace) out.untracedUnitSeconds = Main.timed(c.rec.untraced(unit(c.rec.units)))._2

    // ---- output checks, outside the timed loop. The first unit's round
    // trips are read back and compared with the source sets; every later
    // unit must have written the same lines, so it reads back the same sets.
    val (_, checkS) = Main.timed {
      val units = c.rec.units + (if (c.trace) 1 else 0)
      val d0 = s"${c.work}/u0"
      val ref = Outputs.map { case (check, p) => check -> linesDigest(s"$d0/$p") }.toMap
      val want = Digest.byTag(Digest.tagged(Seq(
        "all" -> expected(src, _ => true, _ => 1, g),
        "merge" -> expected(src, _ => true, i => if (inOverlap(i)) 2 else 1, g),
        "graphops_merge" -> expected(src, _ < GraphOpsFiles, _ => 1, g),
        "graphops_convert" -> expected(src, _ == 0, _ => 1, g))))
      // self-test: the first unit's NT files get a corrupted escape and
      // each of its other round trips loses one triple; the last unit's
      // Turtle files get a corrupted escape
      if (c.selftest) corruptEscape(s"$d0/nt")
      if (c.selftest && units > 1) corruptEscape(s"${c.work}/u${units - 1}/turtle")
      val reads = (Seq(
        ("nt", "all", DistributedRdf.readNt(spark, s"$d0/nt").toDF()),
        ("merge", "merge", DistributedRdf.readNt(spark, s"$d0/merged").toDF()),
        ("graphops_merge", "graphops_merge",
          DistributedRdf.readNt(spark, s"$d0/graphops/merged.nt").toDF()),
        ("graphops_convert", "graphops_convert", rows(spark,
          RdfIo.readFile(s"$d0/graphops/converted.ttl")._2.triples.map(TripleRow.fromTriple)))
      ) ++ Formats.map { case (name, fmt) =>
        (name, "all", DistributedRdf.readDocs(spark, s"$d0/$name/*", fmt).toDF())
      }).map { case (check, set, df) =>
        val drop = c.selftest && check != "nt"
        (s"u0.$check", set, if (drop) df.except(df.limit(1)) else df)
      }
      if (c.selftest) {
        out.planted ++= reads.map(_._1)
        if (units > 1) out.planted += s"u${units - 1}.turtle"
      }
      val got =
        try Right(Digest.byTag(canonical(Digest.tagged(reads.map { case (t, _, df) => t -> df }))))
        catch { case e: Exception => Left(e.toString) }
      reads.foreach { case (t, set, _) =>
        got match {
          case Right(d) => out.check(t, d.get(t).contains(want(set)),
            s"round trip ${d.get(t)} vs source ${want(set)}")
          case Left(err) => out.check(t, ok = false, s"reading the round trips failed: $err")
        }
      }
      for (i <- 1 until units; (check, p) <- Outputs) {
        val lines = linesDigest(s"${c.work}/u$i/$p")
        out.check(s"u$i.$check", lines == ref(check),
          s"$p lines (count, hash) $lines differ from the first unit's ${ref(check)}")
      }
    }
    out.info("check_s") = f"$checkS%.2f"

    out.triplesPerUnit = n.toDouble * RoundTrips
    out.info("graphs") = g.toString
    out.info("source_triples") = n.toString
    val shardRows = spark.read.text(shardA).count() + spark.read.text(shardB).count()
    out.info("shard_rows") = shardRows.toString
    if (c.trace) {
      def wall(name: String) = Stats.median(c.rec.spanSeconds(name))
      for (step <- Seq("write", "read")) {
        out.layer(s"rdf.nt.$step.wall_s", wall(s"rdf.nt.$step"), "s")
        out.layer(s"rdf.nt.$step.triples_per_s", n / wall(s"rdf.nt.$step"), "1/s")
      }
      out.layer("rdf.merge.wall_s", wall("rdf.merge"), "s")
      out.layer("rdf.merge.shuffle_mb", Stats.median(c.rec.spanStats("rdf.merge").map(_.shuffleMb)), "MB")
      out.layer("rdf.merge.dedup_ratio",
        spark.read.text(s"${c.work}/u0/merged").count().toDouble / shardRows, "ratio")
      for ((name, _) <- Formats; step <- Seq("write", "read")) {
        val span = s"rdf.$name.$step"
        val st = c.rec.spanStats(span)
        out.layer(s"$span.wall_s", wall(span), "s")
        out.layer(s"$span.triples_per_s", n / wall(span), "1/s")
        out.layer(s"$span.tasks", Stats.median(st.map(_.tasks.toDouble)), "count")
        out.layer(s"$span.skew", Stats.median(st.map(_.skew)), "ratio")
      }
      out.layer("rdf.graphops.merge.wall_s", wall("rdf.graphops.merge"), "s")
      out.layer("rdf.graphops.convert.wall_s", wall("rdf.graphops.convert"), "s")
    }
    src.unpersist()
    for (i <- 0 to c.rec.units) Main.deleteDir(s"${c.work}/u$i")
    out
  }

  private def dataFiles(path: String): Seq[java.nio.file.Path] = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try all.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).filter { f =>
      val name = f.getFileName.toString
      java.nio.file.Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")
    } finally all.close()
  }

  /** Order-free digest of the lines of the data files under `path`:
    * (line count, sum of 64-bit line hashes). */
  private def linesDigest(path: String): (Long, Long) = {
    var (n, h) = (0L, 0L)
    dataFiles(path).foreach { f =>
      java.nio.file.Files.readAllLines(f).forEach { l =>
        n += 1
        h += (scala.util.hashing.MurmurHash3.stringHash(l).toLong << 32) | (l.hashCode & 0xffffffffL)
      }
    }
    (n, h)
  }

  /** Self-test: flip one escaped tab to an escaped newline in one file. */
  private def corruptEscape(dir: String): Unit = {
    val f = dataFiles(dir).find(x => java.nio.file.Files.readString(x).contains("\\t")).get
    val text = java.nio.file.Files.readString(f)
    java.nio.file.Files.writeString(f, text.replaceFirst("\\\\t", "\\\\n"))
    new java.io.File(f.getParent.toFile, s".${f.getFileName}.crc").delete()
  }
}
