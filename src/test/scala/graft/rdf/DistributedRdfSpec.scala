package graft.rdf

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.Files

class DistributedRdfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("readNtMerged over a multi-file glob keeps same-label bnodes distinct per file") {
    val dir = Files.createTempDirectory("graftnt")
    // identical bnode label _:b0 in two files = two distinct nodes (rdflib
    // fresh-bnodes-per-parse merge semantics — the opt-in merge read)
    Files.write(dir.resolve("a.nt"),
      "_:b0 <http://ex/p> \"va\" .\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.nt"),
      "_:b0 <http://ex/p> \"vb\" .\n".getBytes(StandardCharsets.UTF_8))
    val rows = DistributedRdf.readNtMerged(spark, dir.toString + "/*.nt").collect()
    assert(rows.length == 2)
    val subjects = rows.map(_.s).toSet
    assert(subjects.size == 2, s"bnode labels conflated across files: $subjects")
    assert(rows.forall(_.s_kind == graft.model.TermKind.BNode))
  }

  test("readDocs keeps the blank nodes of two files apart when their paths share a String.hashCode") {
    val dir = Files.createTempDirectory("graftdocs")
    // "Aa" and "BB" have equal String.hashCode, so equal 32-bit path hashes
    for (name <- Seq("Aa", "BB"))
      Files.write(dir.resolve(s"$name.ttl"),
        s"""[] <http://ex/p> "$name" .\n""".getBytes(StandardCharsets.UTF_8))
    assert(dir.resolve("Aa.ttl").toString.hashCode == dir.resolve("BB.ttl").toString.hashCode)
    val rows = DistributedRdf.readDocs(spark, dir.toString + "/*.ttl", RdfFormat.Turtle).collect()
    assert(rows.map(_.o).toSet == Set("Aa", "BB"))
    assert(rows.map(_.s).toSet.size == 2, s"blank nodes conflated across files: ${rows.toSeq}")
  }

  test("per-graph Turtle/JSON-LD shards are byte-equal to the driver-side codec output") {
    import graft.model._
    import spark.implicits._
    val g1 = (0 until 5).map(i =>
      ("urn:g1", s"http://ex.org/s$i", 0, "http://ex.org/p", s"v$i", 2, null: String, null: String))
    val g2 = (0 until 3).map(i =>
      ("urn:g2", s"http://ex.org/t$i", 0, "http://ex.org/p", s"http://ex.org/o$i", 0, null: String, null: String))
    val df = (g1 ++ g2).toDF("graph_iri", "s", "s_kind", "p", "o", "o_kind", "o_dtype", "o_lang")
      .repartition(4) // scatter rows: the writer must re-co-locate by graph
    for (fmt <- Seq(RdfFormat.Turtle, RdfFormat.JsonLd)) {
      val dir = Files.createTempDirectory(s"graftshard${fmt.token}")
      val n = DistributedRdf.writeDocsByGraph(df, dir.toString, fmt)
      assert(n == 2)
      for ((iri, rows) <- Seq("urn:g1" -> g1, "urn:g2" -> g2)) {
        val ext = RdfFormat.outputFileEndings(fmt.token)
        val got = new String(Files.readAllBytes(
          dir.resolve(java.net.URLEncoder.encode(iri, "UTF-8") + "." + ext)), StandardCharsets.UTF_8)
        val expected = RdfIo.normalizeTail(RdfIo.serialize(ParsedGraph(
          rows.map(r => TripleRow(r._2, r._3, r._4, r._5, r._6, r._7, r._8).asTriple).toVector,
          Map.empty), fmt))
        assert(got == expected, s"$iri as ${fmt.token}")
      }
    }
  }

  test("readNt default keeps one label space across shards of one document (round-trip)") {
    // one bnode's triples deliberately split across two shard files (what
    // writeNt produces when a bnode's triples straddle a partition boundary)
    val dir = Files.createTempDirectory("graftntrt")
    Files.write(dir.resolve("part-00000.nt"),
      "_:b0 <http://ex/p> \"v1\" .\n".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("part-00001.nt"),
      "_:b0 <http://ex/p> \"v2\" .\n".getBytes(StandardCharsets.UTF_8))
    // DEFAULT read = round-trip semantics: one node, not two
    val back = DistributedRdf.readNt(spark, dir.toString + "/part-*").collect()
    assert(back.length == 2)
    assert(back.map(_.s).toSet == Set("b0")) // one node, not two
    // the opt-in merge read (independent-files semantics) splits it
    val salted = DistributedRdf.readNtMerged(spark, dir.toString + "/part-*").collect()
    assert(salted.map(_.s).toSet.size == 2)
  }

  test("readNt single file still parses every line") {
    val dir = Files.createTempDirectory("graftnt1")
    val nt = (0 until 100).map(i => s"<http://ex/s$i> <http://ex/p> \"$i\" .").mkString("\n")
    Files.write(dir.resolve("c.nt"), nt.getBytes(StandardCharsets.UTF_8))
    assert(DistributedRdf.readNt(spark, dir.resolve("c.nt").toString).count() == 100)
  }
}
