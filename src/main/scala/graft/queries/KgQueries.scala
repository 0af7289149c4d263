package graft.queries

import graft.SparkEntry._
import graft.ops._
import graft.pipeline._
import org.apache.spark.sql.functions._

/** The KG-construction stages (transcripts, mentions, link edges,
  * canonical entities, triples) and the graph queries over their
  * materialized artifacts: SPARQL algebra, closure, negative sampling and
  * co-mention graph analytics. */
object KgQueries {

  private def mentionsCte: String =
    s"""WITH RECURSIVE turns AS (${Transcripts.oracleSql}),
       |gaz(surface, entity_id) AS (VALUES ${Gazetteer.sqlValues}),
       |mentions AS (
       |  SELECT t.conv_id, t.turn_idx, g.entity_id, g.surface,
       |         (length(t.text) - length(replace(t.text, g.surface, ''))) // length(g.surface) AS n_hits,
       |         CAST(instr(t.text, g.surface) - 1 AS BIGINT) AS first_pos
       |  FROM turns t, gaz g
       |  WHERE instr(t.text, g.surface) > 0
       |)""".stripMargin

  /** Edges + recursive-CTE connected components, shared by several oracles. */
  private def canonicalCte: String =
    s"""$mentionsCte,
       |edges AS (
       |  SELECT DISTINCT a.entity_id AS entity_a, b.entity_id AS entity_b
       |  FROM mentions a JOIN mentions b
       |    ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
       |  WHERE a.entity_id < b.entity_id AND abs(a.first_pos - b.first_pos) <= 0
       |),
       |sym AS (SELECT entity_a AS u, entity_b AS v FROM edges
       |        UNION SELECT entity_b, entity_a FROM edges),
       |nodes AS (SELECT DISTINCT entity_id FROM mentions),
       |reach(node, r) AS (
       |  SELECT entity_id, entity_id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node
       |),
       |canonical AS (
       |  SELECT node AS entity_id, min(r) AS canonical_id FROM reach GROUP BY node
       |)""".stripMargin

  /** The T3 triple bag with provenance, as the `triples` CTE (the graph
    * surface queries read it too). */
  private[queries] def triplesSql: String =
    s"""$canonicalCte,
       |mention_triples AS (
       |  SELECT DISTINCT 'urn:conv:' || m.conv_id AS s, 'urn:graft:mentions' AS p,
       |         'urn:' || c.canonical_id AS o, CAST(0 AS BIGINT) AS o_kind,
       |         m.conv_id, CAST(m.turn_idx AS BIGINT) AS turn_idx
       |  FROM mentions m JOIN canonical c ON m.entity_id = c.entity_id
       |),
       |structure_triples AS (
       |  SELECT 'urn:conv:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) AS s,
       |         'urn:graft:partOf' AS p, 'urn:conv:' || conv_id AS o,
       |         CAST(0 AS BIGINT) AS o_kind, conv_id, CAST(turn_idx AS BIGINT) AS turn_idx
       |  FROM turns
       |),
       |role_triples AS (
       |  SELECT 'urn:conv:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) AS s,
       |         'urn:graft:role' AS p, role AS o,
       |         CAST(2 AS BIGINT) AS o_kind, conv_id, CAST(turn_idx AS BIGINT) AS turn_idx
       |  FROM turns
       |),
       |tool_triples AS (
       |  SELECT 'urn:conv:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) AS s,
       |         'urn:graft:usedTool' AS p, tool AS o,
       |         CAST(2 AS BIGINT) AS o_kind, conv_id, CAST(turn_idx AS BIGINT) AS turn_idx
       |  FROM turns WHERE tool IS NOT NULL
       |),
       |triples AS (
       |  SELECT * FROM mention_triples
       |  UNION ALL SELECT * FROM structure_triples
       |  UNION ALL SELECT * FROM role_triples
       |  UNION ALL SELECT * FROM tool_triples
       |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---- transcript synthesis + per-turn text equality surface
    QueryDef("q_transcripts", (s, dir) => turnsDf(s, dir),
      Transcripts.oracleSql),

    // ---- T1/T2 mention detection + link scoring (Aho-Corasick mapPartitions)
    QueryDef("q_kg_mentions", (s, dir) => mentionsDf(s, dir),
      s"""${Transcripts.oracleCte},
         |gaz(surface, entity_id) AS (VALUES ${Gazetteer.sqlValues}),
         |m AS (
         |  SELECT t.conv_id, t.turn_idx, g.entity_id, g.surface,
         |         (length(t.text) - length(replace(t.text, g.surface, ''))) // length(g.surface) AS n_hits,
         |         CAST(instr(t.text, g.surface) - 1 AS BIGINT) AS first_pos
         |  FROM turns t, gaz g
         |  WHERE instr(t.text, g.surface) > 0
         |)
         |SELECT conv_id, turn_idx, entity_id, surface, n_hits, first_pos,
         |       round(CAST(n_hits AS DOUBLE) / (n_hits + 1), 6) AS score
         |FROM m""".stripMargin),

    // ---- candidate-link edges (self-join on composite turn key)
    QueryDef("q_kg_link_edges", (s, dir) => {
      import s.implicits._
      Extraction.linkEdges(mentionsDf(s, dir).as[Mention])
    },
      s"""$mentionsCte
         |SELECT a.entity_id AS entity_a, b.entity_id AS entity_b, count(*) AS weight
         |FROM mentions a JOIN mentions b
         |  ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
         |WHERE a.entity_id < b.entity_id AND abs(a.first_pos - b.first_pos) <= 0
         |GROUP BY 1, 2""".stripMargin),

    // ---- T4 canonicalization: large-star/small-star connected components
    QueryDef("q_kg_entities", (s, dir) => canonicalDf(s, dir),
      s"""$canonicalCte
         |SELECT entity_id, canonical_id FROM canonical""".stripMargin),

    // ---- T3 triple extraction with provenance
    QueryDef("q_kg_triples", (s, dir) => kgTriples(s, dir),
      s"$triplesSql SELECT * FROM triples"),

    // ---- per-conversation transcript rollup (one conv_id hash aggregate)
    QueryDef("q_conv_stats", (s, dir) =>
      TextAnalysis.convStats(turnsDf(s, dir)),
      s"""WITH turns AS (${Transcripts.oracleSql})
         |SELECT conv_id, count(*)::BIGINT AS n_turns,
         |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
         |  CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |  CAST(max(length(text)) AS BIGINT) AS max_turn_chars,
         |  round(sum(length(text))::DOUBLE / count(*)::DOUBLE, 6) AS avg_turn_chars
         |FROM turns GROUP BY conv_id""".stripMargin),

    // ---- degree distribution of the co-mention KG: valueHistogram
    // composed over the degree frame (operators as building blocks)
    QueryDef("q_kg_degree_dist", (s, dir) => {
      val e = coEdgesDf(s, dir)
      val deg = e.select(col("entity_a").as("u"))
        .unionByName(e.select(col("entity_b").as("u")))
        .groupBy("u").agg(count(lit(1)).as("deg"))
      Sketches.valueHistogram(deg, "deg", 10)
    },
      // Degree-distribution oracle: the q_value_hist histogram arithmetic
      // (identical IEEE width/bucket expressions) over the co-mention degree
      // frame.
      s"""$mentionsCte,
         |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
         |ce AS MATERIALIZED (SELECT a.entity_id AS ea, b.entity_id AS eb
         |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
         |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
         |deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM (
         |  SELECT ea AS u FROM ce UNION ALL SELECT eb FROM ce) GROUP BY 1),
         |mm AS (SELECT CAST(min(deg) AS DOUBLE) AS mn,
         |              CAST(max(deg) AS DOUBLE) AS mx FROM deg)
         |SELECT bucket, count(*) AS n,
         |  round(mn + bucket * (mx - mn) / 10, 6) AS lo,
         |  round(mn + (bucket + 1) * (mx - mn) / 10, 6) AS hi
         |FROM (
         |  SELECT CASE WHEN mx = mn THEN 0
         |    ELSE least(9, CAST(floor((CAST(deg AS DOUBLE) - mn) / ((mx - mn) / 10)) AS BIGINT))
         |    END AS bucket, mn, mx
         |  FROM deg, mm)
         |GROUP BY bucket, mn, mx""".stripMargin),

    // ---- per-community Newman modularity over the LPA assignment
    QueryDef("q_kg_modularity", (s, dir) => {
      val e = coEdgesDf(s, dir)
      GraphAnalytics.modularity(e, GraphAnalytics.labelPropagation(e))
    },
      // Modularity oracle: the SAME 3-round LPA unroll as the
      // q_kg_communities oracle (row_number argmax == min(struct)
      // tiebreak), then integer intra-edge / degree-mass counts and one
      // rounded contribution expression per community. Rounds
      // MATERIALIZED — l3 is referenced three times downstream.
      {
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |ce AS MATERIALIZED (SELECT a.entity_id AS ea, b.entity_id AS eb, count(*) AS w
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
             |dir AS MATERIALIZED (SELECT ea AS src, eb AS dst, w FROM ce
             |  UNION ALL SELECT eb, ea, w FROM ce),
             |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM dir)""".stripMargin
        for (it <- 1 to 3) {
          sb ++=
            s""",
               |n$it AS MATERIALIZED (SELECT d.src, l.label, sum(d.w) AS w
               |  FROM dir d JOIN l${it - 1} l ON l.id = d.dst GROUP BY 1, 2),
               |l$it AS MATERIALIZED (SELECT src AS id, label FROM (
               |  SELECT src, label,
               |    row_number() OVER (PARTITION BY src ORDER BY w DESC, label) AS rk
               |  FROM n$it) WHERE rk = 1)""".stripMargin
        }
        sb ++=
          s"""
             |, m AS (SELECT count(*) AS m FROM ce),
             |deg AS (SELECT src AS u, count(*) AS deg FROM dir GROUP BY 1),
             |intra AS (SELECT la.label AS community, count(*) AS intra_edges
             |  FROM ce JOIN l3 la ON la.id = ce.ea JOIN l3 lb ON lb.id = ce.eb
             |  WHERE la.label = lb.label GROUP BY 1),
             |dsum AS (SELECT l3.label AS community, sum(deg.deg) AS degree_sum,
             |    count(*) AS n_nodes
             |  FROM l3 JOIN deg ON deg.u = l3.id GROUP BY 1)
             |SELECT d.community, d.n_nodes::BIGINT AS n_nodes,
             |  COALESCE(i.intra_edges, 0)::BIGINT AS intra_edges,
             |  CAST(d.degree_sum AS BIGINT) AS degree_sum,
             |  round(COALESCE(i.intra_edges, 0)::DOUBLE / m.m::DOUBLE -
             |    (d.degree_sum::DOUBLE / (2 * m.m)::DOUBLE) *
             |    (d.degree_sum::DOUBLE / (2 * m.m)::DOUBLE), 6) AS q_contrib
             |FROM dsum d LEFT JOIN intra i ON i.community = d.community
             |  CROSS JOIN m""".stripMargin
        sb.toString
      }),

    // ---- SPARQL-style basic graph pattern over the materialized graph
    // (?turn partOf ?conv . ?turn usedTool ?tool . ?conv mentions ?ent),
    // rolled up to entity-tool affinity counts — the conjunctive-query
    // surface of a triple store as two variable-keyed self-joins
    QueryDef("q_kg_bgp", (s, dir) => {
      import KgQuery._
      bgp(graphDf(s, dir), Seq(
        TriplePattern(V("turn"), C("urn:graft:partOf"), V("conv")),
        TriplePattern(V("turn"), C("urn:graft:usedTool"), V("tool")),
        TriplePattern(V("conv"), C("urn:graft:mentions"), V("ent"))),
        // graphDf is distinct at (s,p,o): o_kind is a pure function of p
        // (Extraction.triples assigns one kind per predicate), so the
        // per-pattern dedup exchanges are identity ops — skip them
        distinctSPO = true)
        .groupBy("ent", "tool")
        .agg(countDistinct(col("turn")).as("n_turns"),
          countDistinct(col("conv")).as("n_convs"))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o FROM triples),
         |b AS (
         |  SELECT t1.s AS turn, t1.o AS conv, t2.o AS tool, t3.o AS ent
         |  FROM g t1
         |  JOIN g t2 ON t2.p = 'urn:graft:usedTool' AND t2.s = t1.s
         |  JOIN g t3 ON t3.p = 'urn:graft:mentions' AND t3.s = t1.o
         |  WHERE t1.p = 'urn:graft:partOf')
         |SELECT ent, tool, count(DISTINCT turn) AS n_turns,
         |       count(DISTINCT conv) AS n_convs
         |FROM b GROUP BY 1, 2""".stripMargin),

    // ---- SPARQL OPTIONAL (left-join algebra): every turn with its tool
    // when one exists, null otherwise — rolled up per conversation
    QueryDef("q_kg_bgp_opt", (s, dir) => {
      import KgQuery._
      bgpOptional(graphDf(s, dir),
        Seq(TriplePattern(V("turn"), C("urn:graft:partOf"), V("conv"))),
        Seq(Seq(TriplePattern(V("turn"), C("urn:graft:usedTool"), V("tool")))),
        distinctSPO = true)
        .groupBy("conv")
        .agg(countDistinct(col("turn")).as("n_turns"),
          count(col("tool")).as("n_tool_turns"),
          countDistinct(col("tool")).as("n_tools"))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o FROM triples),
         |req AS (SELECT s AS turn, o AS conv FROM g WHERE p = 'urn:graft:partOf'),
         |opt AS (SELECT s AS turn, o AS tool FROM g WHERE p = 'urn:graft:usedTool'),
         |b AS (SELECT r.conv, r.turn, o.tool
         |      FROM req r LEFT JOIN opt o ON o.turn = r.turn)
         |SELECT conv, count(DISTINCT turn) AS n_turns,
         |       count(tool) AS n_tool_turns,
         |       count(DISTINCT tool) AS n_tools
         |FROM b GROUP BY 1""".stripMargin),

    // ---- SPARQL CONSTRUCT (KG enrichment loop): co-mention pairs
    // materialized back into graph triples, both directions
    QueryDef("q_kg_construct", (s, dir) => {
      import KgQuery._
      val b = bgp(graphDf(s, dir), Seq(
        TriplePattern(V("conv"), C("urn:graft:mentions"), V("e1")),
        TriplePattern(V("conv"), C("urn:graft:mentions"), V("e2"))),
        distinctSPO = true)
        .where(col("e1") < col("e2"))
        .select("e1", "e2").distinct()
      construct(b, Seq(
        (V("e1"), C("urn:graft:coMentioned"), V("e2"), 0),
        (V("e2"), C("urn:graft:coMentionedBy"), V("e1"), 0)))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, o FROM triples WHERE p = 'urn:graft:mentions'),
         |pairs AS (SELECT DISTINCT a.o AS e1, b.o AS e2
         |          FROM g a JOIN g b ON a.s = b.s WHERE a.o < b.o)
         |SELECT e1 AS s, 'urn:graft:coMentioned' AS p, e2 AS o,
         |       CAST(0 AS BIGINT) AS o_kind FROM pairs
         |UNION
         |SELECT e2, 'urn:graft:coMentionedBy', e1, CAST(0 AS BIGINT) FROM pairs""".stripMargin),

    // ---- SPARQL MINUS (anti-join algebra): tool-free turns per
    // conversation and role — the complement of the usedTool pattern
    QueryDef("q_kg_minus", (s, dir) => {
      import KgQuery._
      bgpMinus(graphDf(s, dir),
        Seq(TriplePattern(V("turn"), C("urn:graft:partOf"), V("conv")),
          TriplePattern(V("turn"), C("urn:graft:role"), V("role"))),
        Seq(TriplePattern(V("turn"), C("urn:graft:usedTool"), V("tool"))),
        distinctSPO = true)
        .groupBy("conv", "role")
        .agg(countDistinct(col("turn")).as("n_tool_free_turns"))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o FROM triples),
         |req AS (SELECT t1.s AS turn, t1.o AS conv, t2.o AS role
         |        FROM g t1 JOIN g t2 ON t2.s = t1.s AND t2.p = 'urn:graft:role'
         |        WHERE t1.p = 'urn:graft:partOf'),
         |mn AS (SELECT DISTINCT s AS turn FROM g WHERE p = 'urn:graft:usedTool')
         |SELECT r.conv, r.role, count(DISTINCT r.turn) AS n_tool_free_turns
         |FROM req r LEFT JOIN mn ON mn.turn = r.turn
         |WHERE mn.turn IS NULL GROUP BY 1, 2""".stripMargin),

    // ---- SPARQL VALUES (inline binding table): restrict role bindings to
    // a caller-provided parameter list (one present, one absent)
    QueryDef("q_kg_values", (s, dir) => {
      import KgQuery._
      import s.implicits._
      val vals = Seq("user", "moderator").toDF("role")
      valuesJoin(
        bgp(graphDf(s, dir), Seq(
          TriplePattern(V("turn"), C("urn:graft:role"), V("role")),
          TriplePattern(V("turn"), C("urn:graft:partOf"), V("conv"))),
          distinctSPO = true),
        vals)
        .groupBy("role")
        .agg(countDistinct(col("turn")).as("n_turns"),
          countDistinct(col("conv")).as("n_convs"))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o FROM triples),
         |v(role) AS (VALUES ('user'), ('moderator')),
         |b AS (SELECT t1.s AS turn, t1.o AS role, t2.o AS conv
         |      FROM g t1 JOIN g t2 ON t2.s = t1.s AND t2.p = 'urn:graft:partOf'
         |      JOIN v ON v.role = t1.o
         |      WHERE t1.p = 'urn:graft:role')
         |SELECT role, count(DISTINCT turn) AS n_turns,
         |       count(DISTINCT conv) AS n_convs
         |FROM b GROUP BY 1""".stripMargin),

    // ---- SPARQL DESCRIBE: full symmetric description of the 5
    // lexicographically-first entities (deterministic resource pick)
    QueryDef("q_kg_describe", (s, dir) => {
      val g = graphDf(s, dir)
      val res = g.where(col("p") === "urn:graft:mentions")
        .select(col("o")).distinct().orderBy("o").limit(5)
      KgQuery.describe(g, res).select("s", "p", "o", "o_kind")
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o, o_kind FROM triples),
         |r AS (SELECT DISTINCT o FROM g WHERE p = 'urn:graft:mentions'
         |      ORDER BY o LIMIT 5)
         |SELECT DISTINCT g.s, g.p, g.o, g.o_kind
         |FROM g JOIN r ON g.s = r.o OR g.o = r.o""".stripMargin),

    // ---- SPARQL property path partOf/(mentions|usedTool): everything a
    // turn reaches through its conversation's mentions OR its own tools —
    // sequence + alternation + inverse-free composition in one evaluator
    QueryDef("q_kg_path", (s, dir) => {
      import KgQuery._
      pathEval(graphDf(s, dir),
        PathAlt(Seq(
          PathSeq(Seq(Pred("urn:graft:partOf"), Pred("urn:graft:mentions"))),
          Pred("urn:graft:usedTool"))),
        distinctSPO = true)
        .groupBy(col("dst").as("target"))
        .agg(countDistinct(col("src")).as("n_turns"))
    },
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o FROM triples),
         |seq AS (SELECT DISTINCT a.s AS src, b.o AS dst
         |        FROM g a JOIN g b ON b.s = a.o AND b.p = 'urn:graft:mentions'
         |        WHERE a.p = 'urn:graft:partOf'),
         |alt AS (SELECT src, dst FROM seq
         |        UNION
         |        SELECT s, o FROM g WHERE p = 'urn:graft:usedTool')
         |SELECT dst AS target, count(DISTINCT src) AS n_turns
         |FROM alt GROUP BY 1""".stripMargin),

    // ---- VoID-style per-predicate dataset statistics (ontology profile)
    QueryDef("q_kg_void", (s, dir) => KgQuery.voidStats(graphDf(s, dir)),
      s"""$triplesSql,
         |g AS (SELECT DISTINCT s, p, o, o_kind FROM triples)
         |SELECT p, count(*) AS n_triples, count(DISTINCT s) AS n_subjects,
         |       count(DISTINCT o) AS n_objects,
         |       sum(CASE WHEN o_kind = 0 THEN 1 ELSE 0 END)::BIGINT AS n_iri_objects,
         |       round(count(*)::DOUBLE / count(DISTINCT s)::DOUBLE, 6) AS avg_fanout
         |FROM g GROUP BY 1""".stripMargin),

    // ---- min-hop transitive closure (RDFS-materialization engine) over
    // the containment+mention DAG: turn->conv->entity
    QueryDef("q_kg_closure", (s, dir) => {
      val g = graphDf(s, dir)
      KgQuery.transitiveClosure(
        g.where(col("p").isin("urn:graft:partOf", "urn:graft:mentions") &&
            col("o_kind") === 0)
          .select(col("s").as("src"), col("o").as("dst")),
        maxIters = 8)
    },
      s"""$triplesSql,
         |clo_e AS (SELECT DISTINCT s AS src, o AS dst FROM triples
         |          WHERE p IN ('urn:graft:partOf', 'urn:graft:mentions') AND o_kind = 0),
         |clo_paths(src, dst, dist) AS (
         |  SELECT src, dst, 1 FROM clo_e
         |  UNION
         |  SELECT p.src, e.dst, p.dist + 1
         |  FROM clo_paths p JOIN clo_e e ON e.src = p.dst
         |  WHERE p.dist < 8)
         |SELECT src, dst, CAST(min(dist) AS BIGINT) AS dist
         |FROM clo_paths GROUP BY 1, 2""".stripMargin),

    // ---- filtered deterministic negative sampling for KG-embedding
    // training (TransE-style tail corruption, zero RNG). Sampled over the
    // sparse usedTool relation: the sf0.001 mention graph is complete
    // bipartite (every conv mentions every gazetteer entity), so ALL its
    // corruptions are true edges and the filtered protocol rightly yields
    // nothing — usedTool (one tool per turn) is the relation with
    // informative negatives
    QueryDef("q_kg_neg", (s, dir) =>
      KgQuery.negativeSamples(
        graphDf(s, dir).where(col("p") === "urn:graft:usedTool")
          .select(col("s"), col("o")),
        k = 3),
      {
        val hv = Sketches.hexPrefixValueSql(
          "md5(g.s || '#' || g.o || '#' || CAST(k.kk AS VARCHAR))", 4)
        s"""$triplesSql,
           |g AS (SELECT DISTINCT s, o FROM triples WHERE p = 'urn:graft:usedTool'),
           |ents AS (SELECT DISTINCT o FROM g),
           |ranked AS (SELECT o AS cand, row_number() OVER (ORDER BY o) - 1 AS idx FROM ents),
           |nn AS (SELECT count(*) AS n FROM ents),
           |cand AS (
           |  SELECT g.s, g.o, k.kk,
           |         CAST($hv AS BIGINT) % (SELECT n FROM nn) AS idx
           |  FROM g CROSS JOIN (SELECT unnest(range(1, 4)) AS kk) k)
           |SELECT c.s, c.o, CAST(c.kk AS BIGINT) AS k, r.cand AS o_neg
           |FROM cand c JOIN ranked r ON r.idx = c.idx
           |WHERE r.cand <> c.o
           |  AND NOT EXISTS (SELECT 1 FROM g p WHERE p.s = c.s AND p.o = r.cand)""".stripMargin
      }),

    // ---- weakly connected components over the co-mention entity graph
    // (the T4 large-star/small-star engine exposed as a first-class query;
    // component id = min entity in the component, one row per entity)
    QueryDef("q_kg_wcc", (s, dir) => {
      val e = coEdgesDf(s, dir)
      val nodes = e.select(col("entity_a").as("entity_id"))
        .unionByName(e.select(col("entity_b").as("entity_id"))).distinct()
      graft.pipeline.Canonicalize.connectedComponents(s, e, nodes)
        .select(col("entity_id"), col("canonical_id").as("component"))
    },
      s"""$mentionsCte,
         |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
         |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb
         |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
         |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
         |sym AS (SELECT ea AS u, eb AS v FROM ce UNION SELECT eb, ea FROM ce),
         |wnodes AS (SELECT DISTINCT u AS n FROM sym),
         |reach(node, r) AS (
         |  SELECT n, n FROM wnodes
         |  UNION
         |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node)
         |SELECT node AS entity_id, min(r) AS component
         |FROM reach GROUP BY 1""".stripMargin),

    // ---- deterministic DeepWalk corpus over the co-mention entity graph
    // (2 walks × 4 steps per node; md5-ranked neighbor choice, zero RNG)
    QueryDef("q_kg_walks", (s, dir) =>
      KgQuery.randomWalks(
        coEdgesDf(s, dir).select(col("entity_a").as("src"), col("entity_b").as("dst"))),
      {
        def hv(step: Int) = Sketches.hexPrefixValueSql(
          s"md5(start || '#' || CAST(w AS VARCHAR) || '#$step#' || cur)", 4)
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
             |wdir AS (SELECT ea AS src, eb AS dst FROM ce UNION SELECT eb, ea FROM ce),
             |nbr AS (SELECT src, dst,
             |  row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM wdir),
             |dg AS (SELECT src, count(*) AS deg FROM wdir GROUP BY 1),
             |w0 AS (SELECT n.src AS start, k.w, n.src AS cur, n.src AS path
             |  FROM (SELECT DISTINCT src FROM wdir) n
             |  CROSS JOIN (SELECT unnest(range(1, 3)) AS w) k)""".stripMargin
        for (step <- 1 to 4) {
          sb ++=
            s""",
               |w$step AS (SELECT start, w, n.dst AS cur, path || ' ' || n.dst AS path
               |  FROM w${step - 1} p JOIN dg d ON d.src = p.cur
               |  JOIN nbr n ON n.src = p.cur
               |    AND n.idx = CAST(${hv(step)} AS BIGINT) % d.deg)""".stripMargin
        }
        sb ++=
          s"""
             |SELECT start AS start_node, CAST(w AS BIGINT) AS walk_id,
             |       cur AS end_node, path FROM w4""".stripMargin
        sb.toString
      }),

    // ---- common-neighbor Jaccard node similarity (link-prediction /
    // entity-merge candidates; pairs keyed on the shared neighbor)
    QueryDef("q_kg_nodesim", (s, dir) =>
      GraphAnalytics.nodeSimilarity(coEdgesDf(s, dir)),
      // Common-neighbor Jaccard oracle: pairs keyed on the shared neighbor,
      // exactly like the operator; all counts integer, one rounded division.
      // dir/deg MATERIALIZED (each referenced 2-3 times downstream).
      s"""$mentionsCte,
         |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
         |ce AS MATERIALIZED (SELECT a.entity_id AS ea, b.entity_id AS eb
         |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
         |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
         |dir AS MATERIALIZED (SELECT ea AS u, eb AS n FROM ce
         |  UNION ALL SELECT eb, ea FROM ce),
         |deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM dir GROUP BY 1),
         |prs AS (SELECT x.u AS entity_a, y.u AS entity_b, count(*) AS common
         |  FROM dir x JOIN dir y ON x.n = y.n AND x.u < y.u GROUP BY 1, 2)
         |SELECT p.entity_a, p.entity_b, p.common::BIGINT AS common,
         |  da.deg::BIGINT AS deg_a, db.deg::BIGINT AS deg_b,
         |  round(p.common::DOUBLE / (da.deg + db.deg - p.common)::DOUBLE, 6) AS jaccard
         |FROM prs p JOIN deg da ON da.u = p.entity_a
         |  JOIN deg db ON db.u = p.entity_b""".stripMargin),

    // ---- k-core peeling over the co-mention graph (4 unrolled rounds,
    // k=2: drop degree-<2 nodes, recount)
    QueryDef("q_kg_kcore", (s, dir) =>
      GraphAnalytics.kCore(coEdgesDf(s, dir)),
      // k-core oracle: 4 unrolled peel rounds (k=2) — each round recounts
      // degrees over the surviving edge set and keeps edges whose BOTH
      // endpoints clear the bar, mirroring the operator's two semi-joins.
      // Every per-round CTE is MATERIALIZED: each is referenced twice by the
      // next round, and DuckDB inlines plain CTEs (exponential blowup across
      // four rounds). Integer degrees only.
      {
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |e0 AS MATERIALIZED (SELECT a.entity_id AS ea, b.entity_id AS eb
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2)""".stripMargin
        for (it <- 1 to 4) {
          sb ++=
            s""",
               |k$it AS MATERIALIZED (SELECT u FROM (
               |  SELECT ea AS u FROM e${it - 1} UNION ALL SELECT eb FROM e${it - 1})
               |  GROUP BY 1 HAVING count(*) >= 2),
               |e$it AS MATERIALIZED (SELECT ea, eb FROM e${it - 1}
               |  WHERE ea IN (SELECT u FROM k$it) AND eb IN (SELECT u FROM k$it))""".stripMargin
        }
        sb ++=
          s"""
             |SELECT u AS entity_id, count(*) AS kcore_degree FROM (
             |  SELECT ea AS u FROM e4 UNION ALL SELECT eb FROM e4) GROUP BY 1""".stripMargin
        sb.toString
      }),

    // ---- graph analytics OVER the constructed KG: fixed-iteration
    // PageRank on the entity co-mention graph (ordered contribution folds,
    // per-iteration round-6 — oracle-exact)
    QueryDef("q_kg_pagerank", (s, dir) =>
      GraphAnalytics.pageRank(coEdgesDf(s, dir)),
      // PageRank oracle: the damping constants are interpolated from the SAME
      // Scala doubles the operator uses (`1.0 - 0.85` is NOT the double the
      // literal `0.15` parses to — Double.toString round-trips exactly), each
      // iteration's contribution sum folds incoming neighbors ordered by
      // source id, and ranks round to 6 dp per iteration so drift cannot
      // compound.
      {
        val damp = 0.85
        val omd = java.lang.Double.toString(1.0 - damp)
        val d = java.lang.Double.toString(damp)
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
             |dir AS (SELECT ea AS src, eb AS dst FROM ce
             |  UNION ALL SELECT eb AS src, ea AS dst FROM ce),
             |deg AS (SELECT src, count(*) AS deg FROM dir GROUP BY 1),
             |nn AS (SELECT count(*) AS n FROM deg),
             |pr0 AS (SELECT src AS id, round(1.0 / (SELECT n FROM nn), 6) AS pr FROM deg)""".stripMargin
        for (it <- 1 to 3) {
          sb ++=
            s""",
               |pr$it AS (SELECT d.dst AS id,
               |    round($omd / (SELECT n FROM nn) +
               |      $d * list_reduce(list(p.pr / g.deg ORDER BY d.src), (x, y) -> x + y), 6) AS pr
               |  FROM dir d JOIN pr${it - 1} p ON p.id = d.src JOIN deg g ON g.src = d.src
               |  GROUP BY d.dst)""".stripMargin
        }
        sb ++=
          s"""
             |SELECT p.id AS entity_id, g.deg::BIGINT AS degree, p.pr AS pagerank
             |FROM pr3 p JOIN deg g ON g.src = p.id""".stripMargin
        sb.toString
      }),

    // ---- per-entity triangle count + clustering coefficient over the
    // co-mention graph (degree-ordered orientation — the scalable
    // enumeration; each triangle found exactly once)
    QueryDef("q_kg_triangles", (s, dir) =>
      GraphAnalytics.triangles(coEdgesDf(s, dir)),
      // Triangle-count oracle: the same degree-ordered orientation in SQL —
      // tuple comparisons `(deg, id) < (deg, id)` mirror the operator's
      // struct comparisons, so each triangle closes exactly once on both
      // sides; clustering divides exact integers, rounded to 6 dp.
      s"""$mentionsCte,
         |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
         |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb
         |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
         |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
         |deg AS (SELECT u, count(*) AS deg FROM (
         |  SELECT ea AS u FROM ce UNION ALL SELECT eb FROM ce) GROUP BY 1),
         |ori AS (
         |  SELECT CASE WHEN (da.deg, ea) < (db.deg, eb) THEN ea ELSE eb END AS u,
         |         CASE WHEN (da.deg, ea) < (db.deg, eb) THEN eb ELSE ea END AS v
         |  FROM ce JOIN deg da ON da.u = ea JOIN deg db ON db.u = eb),
         |orid AS (SELECT ori.u, ori.v, deg.deg AS dv FROM ori JOIN deg ON deg.u = ori.v),
         |tris AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM orid e1 JOIN orid e2 ON e1.u = e2.u
         |  WHERE (e1.dv, e1.v) < (e2.dv, e2.v)
         |    AND EXISTS (SELECT 1 FROM ori e3 WHERE e3.u = e1.v AND e3.v = e2.v)),
         |pern AS (SELECT x AS id, count(*) AS n_triangles FROM (
         |  SELECT a AS x FROM tris UNION ALL SELECT b FROM tris
         |  UNION ALL SELECT c FROM tris) GROUP BY 1)
         |SELECT deg.u AS entity_id, deg.deg::BIGINT AS degree,
         |  COALESCE(pern.n_triangles, 0)::BIGINT AS n_triangles,
         |  CASE WHEN deg.deg >= 2
         |    THEN round(2.0 * COALESCE(pern.n_triangles, 0) / (deg.deg * (deg.deg - 1)), 6)
         |    ELSE 0.0 END AS clustering
         |FROM deg LEFT JOIN pern ON pern.id = deg.u""".stripMargin),

    // ---- label-propagation communities (3 unrolled rounds, weighted
    // argmax with min-label tiebreak — integer-deterministic)
    QueryDef("q_kg_communities", (s, dir) =>
      GraphAnalytics.labelPropagation(coEdgesDf(s, dir)),
      // Label-propagation oracle: 3 unrolled rounds; per-round argmax is
      // `row_number() OVER (ORDER BY w DESC, label)` — the SQL spelling of
      // the operator's `min(struct(-w, label))`. Integer weights, no floats.
      {
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb, count(*) AS w
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
             |dir AS (SELECT ea AS src, eb AS dst, w FROM ce
             |  UNION ALL SELECT eb, ea, w FROM ce),
             |l0 AS (SELECT DISTINCT src AS id, src AS label FROM dir)""".stripMargin
        for (it <- 1 to 3) {
          sb ++=
            s""",
               |n$it AS (SELECT d.src, l.label, sum(d.w) AS w
               |  FROM dir d JOIN l${it - 1} l ON l.id = d.dst GROUP BY 1, 2),
               |l$it AS (SELECT src AS id, label FROM (
               |  SELECT src, label,
               |    row_number() OVER (PARTITION BY src ORDER BY w DESC, label) AS rk
               |  FROM n$it) WHERE rk = 1)""".stripMargin
        }
        sb ++=
          s"""
             |, sizes AS (SELECT label, count(*) AS community_size FROM l3 GROUP BY 1)
             |SELECT l3.id AS entity_id, l3.label AS community, sizes.community_size
             |FROM l3 JOIN sizes ON sizes.label = l3.label""".stripMargin
        sb.toString
      }),

    // ---- multi-source 4-hop BFS from md5-nibble-selected seed entities
    // (minimum hop distance, unrolled relaxation)
    QueryDef("q_kg_bfs", (s, dir) =>
      GraphAnalytics.bfsDistance(coEdgesDf(s, dir),
        substring(md5(col("id")), 1, 1).isin("0", "1", "2", "3")),
      // Multi-source BFS oracle: 4 unrolled min-distance relaxation rounds
      // from the md5-nibble seed set; integer distances throughout.
      {
        val sb = new StringBuilder
        sb ++=
          s"""$mentionsCte,
             |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
             |ce AS (SELECT a.entity_id AS ea, b.entity_id AS eb
             |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
             |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2),
             |dir AS (SELECT ea AS src, eb AS dst FROM ce
             |  UNION ALL SELECT eb, ea FROM ce),
             |d0 AS (SELECT DISTINCT src AS id, 0::BIGINT AS dist FROM dir
             |  WHERE substring(md5(src), 1, 1) IN ('0', '1', '2', '3'))""".stripMargin
        for (it <- 1 to 4) {
          sb ++=
            s""",
               |d$it AS (SELECT id, min(dist) AS dist FROM (
               |  SELECT id, dist FROM d${it - 1}
               |  UNION ALL
               |  SELECT d.dst AS id, p.dist + 1 AS dist
               |  FROM dir d JOIN d${it - 1} p ON p.id = d.src) GROUP BY 1)""".stripMargin
        }
        sb ++= "\nSELECT id AS entity_id, dist FROM d4"
        sb.toString
      }),

    // ---- PMI/NPMI association strength per co-mention edge (stop-entity
    // hub normalization for graph construction)
    QueryDef("q_kg_pmi", (s, dir) =>
      GraphAnalytics.pmiEdges(mentionsDf(s, dir)),
      // PMI oracle: integer marginals, `ln` of exact integer ratios, 6 dp;
      // the n_ab = N degenerate case pins npmi = 1 on both sides.
      s"""$mentionsCte,
         |cm AS (SELECT DISTINCT conv_id, entity_id FROM mentions),
         |nn AS (SELECT count(DISTINCT conv_id) AS n FROM cm),
         |marg AS (SELECT entity_id, count(*) AS n_e FROM cm GROUP BY 1),
         |ce AS (SELECT a.entity_id AS entity_a, b.entity_id AS entity_b, count(*) AS n_ab
         |  FROM cm a JOIN cm b ON a.conv_id = b.conv_id
         |  WHERE a.entity_id < b.entity_id GROUP BY 1, 2)
         |SELECT ce.entity_a, ce.entity_b, ce.n_ab, ma.n_e AS n_a, mb.n_e AS n_b,
         |  round(ln(ce.n_ab::DOUBLE * nn.n / (ma.n_e::DOUBLE * mb.n_e)), 6) AS pmi,
         |  CASE WHEN ce.n_ab = nn.n THEN 1.0
         |    ELSE round(ln(ce.n_ab::DOUBLE * nn.n / (ma.n_e::DOUBLE * mb.n_e)) /
         |      -ln(ce.n_ab::DOUBLE / nn.n), 6) END AS npmi
         |FROM ce JOIN marg ma ON ma.entity_id = ce.entity_a
         |JOIN marg mb ON mb.entity_id = ce.entity_b CROSS JOIN nn""".stripMargin),

    // ---- temporal KG: per-entity mention timeline (first/last mention
    // micros, counts, conversation fan-out, activity span)
    QueryDef("q_kg_timeline", (s, dir) =>
      GraphAnalytics.entityTimelines(mentionsDf(s, dir), turnsDf(s, dir)),
      // Timeline oracle: provenance join back to turns; integer microseconds
      // end-to-end, no float anywhere.
      s"""$mentionsCte
         |SELECT m.entity_id,
         |  min(epoch_us(t.ts)) AS first_us,
         |  max(epoch_us(t.ts)) AS last_us,
         |  count(*) AS n_mentions,
         |  sum(m.n_hits)::BIGINT AS n_hits,
         |  count(DISTINCT m.conv_id) AS n_convs,
         |  (max(epoch_us(t.ts)) - min(epoch_us(t.ts))) AS span_us
         |FROM mentions m
         |JOIN turns t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
         |GROUP BY 1""".stripMargin)
  )
}
