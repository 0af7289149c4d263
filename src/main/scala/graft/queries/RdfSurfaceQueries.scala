package graft.queries

import graft.SparkEntry._
import graft.pipeline.Extraction
import graft.queries.KgQueries.triplesSql
import graft.rdf.DistributedRdf
import org.apache.spark.sql.functions._

/** The rdfx graph surface — merge, COUNT, ASK, SELECT, N-Triples and
  * used-namespace detection — as views over the one materialized graph. */
object RdfSurfaceQueries {

  val defs: Seq[QueryDef] = Seq(
    // ---- O6 merge: set-union semantics over the graph (provenance dropped)
    QueryDef("q_graph_merge", (s, dir) => graphDf(s, dir),
      s"$triplesSql SELECT DISTINCT s, p, o, o_kind FROM triples"),

    // ---- O9 COUNT(*) over the graph
    QueryDef("q_graph_count", (s, dir) =>
      graphDf(s, dir).agg(count(lit(1)).as("cnt")),
      s"$triplesSql SELECT count(*) AS cnt FROM (SELECT DISTINCT s, p, o, o_kind FROM triples)"),

    // ---- O10 ASK
    QueryDef("q_graph_ask", (s, dir) =>
      graphDf(s, dir).limit(1).agg((count(lit(1)) > 0).as("graph_exists")),
      s"$triplesSql SELECT count(*) > 0 AS graph_exists FROM (SELECT * FROM triples LIMIT 1)"),

    // ---- O11 SELECT ?s ?p ?o LIMIT 10 (ordered for determinism).
    // No distinct: the graph is distinct at (s,p,o) grain (o_kind is a
    // pure function of p — see the bgp distinctSPO call sites), so the
    // projection is already duplicate-free and the dedup exchange the
    // distinct planned was an identity op.
    QueryDef("q_graph_select", (s, dir) =>
      graphDf(s, dir).select("s", "p", "o")
        .orderBy("s", "p", "o").limit(10),
      s"$triplesSql SELECT DISTINCT s, p, o FROM triples ORDER BY s, p, o LIMIT 10"),

    // ---- O4 N-Triples serialization as a codegen'd projection
    QueryDef("q_nt_lines", (s, dir) =>
      DistributedRdf.ntLines(Extraction.tripleRows(graphDf(s, dir))),
      s"""$triplesSql
         |SELECT DISTINCT '<' || s || '> <' || p || '> ' ||
         |  CASE WHEN o_kind = 0 THEN '<' || o || '>' ELSE '"' || o || '"' END || ' .' AS line
         |FROM triples""".stripMargin),

    // ---- O7 used-namespace detection (broadcast containment semi-join)
    QueryDef("q_prefix_used", (s, dir) =>
      DistributedRdf.usedNamespaces(s, Extraction.tripleRows(graphDf(s, dir)), Map(
        "conv" -> "urn:conv:", "graft" -> "urn:graft:", "ent" -> "urn:ent:",
        "dead" -> "urn:nowhere:")),
      s"""$triplesSql,
         |prefixes(prefix, ns) AS (VALUES
         |  ('conv', 'urn:conv:'), ('graft', 'urn:graft:'),
         |  ('ent', 'urn:ent:'), ('dead', 'urn:nowhere:')),
         |terms AS (
         |  SELECT DISTINCT term FROM (
         |    SELECT s AS term FROM triples
         |    UNION SELECT p FROM triples
         |    UNION SELECT o FROM triples WHERE o_kind = 0)
         |)
         |SELECT DISTINCT p.prefix, p.ns
         |FROM terms t JOIN prefixes p ON instr(t.term, p.ns) > 0""".stripMargin)
  )
}
