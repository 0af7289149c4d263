package graft.queries

import graft.SparkEntry._
import graft.ops._
import org.apache.spark.sql.functions._

/** Embedding-table queries: int8 quantization, near-duplicate vectors and
  * approximate nearest neighbours (brute force, LSH, IVF, PQ, IVFPQ). */
object AnnQueries {

  /** Shared CTE prelude: per-(vector, table) hyperplane-LSH bucket ids,
    * with the seeded hyperplanes embedded as literals. */
  private def lshSigsCte: String = {
    import graft.ops.Ann.{DefaultBits, DefaultDim, DefaultSeed, DefaultTables}
    val planes = graft.functions.VecFunctions.hyperplanes(
      DefaultTables, DefaultBits, DefaultDim, DefaultSeed)
    val planeRows = (for (t <- 0 until DefaultTables; b <- 0 until DefaultBits) yield {
      val arr = planes(t)(b).map(java.lang.Double.toString).mkString("[", ", ", "]")
      s"($t, $b, $arr)"
    }).mkString(",\n  ")
    s"""WITH planes(tbl, bit, plane) AS (VALUES
       |  $planeRows),
       |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sigs AS (
       |  SELECT v.vec_id, p.tbl,
       |    CAST(sum(CASE WHEN list_dot_product(p.plane, v.e) >= 0
       |             THEN (1 << p.bit) ELSE 0 END) AS INT) AS bucket
       |  FROM vecs v CROSS JOIN planes p
       |  GROUP BY v.vec_id, p.tbl
       |)""".stripMargin
  }

  /** Trained-IVF centroid-derivation chain, every CTE name `$p`-prefixed so
    * two chains can coexist in one WITH (the IVFPQ oracle). Requires a
    * `vecs` CTE. Returns (chainSql, finalCentroidsCteName). */
  private def ivfTrainedChainSql(p: String): (String, String) = {
    import graft.ops.Ann.{IvfTrainIters, IvfTrainSample, IvfTrainedCells}
    val sb = new StringBuilder
    sb ++=
      s"""${p}dims AS (SELECT unnest(range(${graft.ops.Ann.DefaultDim})) AS i),
         |${p}samp AS MATERIALIZED (SELECT vec_id,
         |    list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS s
         |  FROM vecs WHERE vec_id < $IvfTrainSample),
         |${p}cents_i0 AS MATERIALIZED (SELECT 0 AS cell, s FROM ${p}samp WHERE vec_id = (SELECT min(vec_id) FROM ${p}samp))""".stripMargin
    for (c <- 1 until IvfTrainedCells) {
      sb ++=
        s""",
           |${p}mx_$c AS (SELECT sp.vec_id, sp.s, max(round(list_cosine_similarity(ct.s, sp.s), 6)) AS mx
           |  FROM ${p}samp sp CROSS JOIN ${p}cents_i${c - 1} ct GROUP BY sp.vec_id, sp.s),
           |${p}pick_$c AS (SELECT s FROM (SELECT s, row_number() OVER (ORDER BY mx ASC, vec_id ASC) AS rn FROM ${p}mx_$c) WHERE rn = 1),
           |${p}cents_i$c AS MATERIALIZED (SELECT * FROM ${p}cents_i${c - 1} UNION ALL SELECT $c AS cell, s FROM ${p}pick_$c)""".stripMargin
    }
    var prev = s"${p}cents_i${IvfTrainedCells - 1}"
    for (it <- 1 to IvfTrainIters) {
      sb ++=
        s""",
           |${p}asg_$it AS MATERIALIZED (SELECT vec_id, s, cell FROM (
           |    SELECT sp.vec_id, sp.s, ct.cell,
           |      row_number() OVER (PARTITION BY sp.vec_id
           |        ORDER BY round(list_cosine_similarity(ct.s, sp.s), 6) DESC, ct.cell ASC) AS rn
           |    FROM ${p}samp sp CROSS JOIN $prev ct) WHERE rn = 1),
           |${p}mean_$it AS (SELECT a.cell, d.i,
           |    list_reduce(list(a.s[d.i + 1] ORDER BY a.vec_id), (x, y) -> x + y) / count(*) AS v
           |  FROM ${p}asg_$it a CROSS JOIN ${p}dims d GROUP BY a.cell, d.i),
           |${p}newc_$it AS (SELECT cell, list(v ORDER BY i) AS s FROM ${p}mean_$it GROUP BY cell),
           |${p}cents_l$it AS MATERIALIZED (SELECT p.cell, coalesce(n.s, p.s) AS s
           |  FROM $prev p LEFT JOIN ${p}newc_$it n ON n.cell = p.cell)""".stripMargin
      prev = s"${p}cents_l$it"
    }
    (sb.toString, prev)
  }

  /** Round-6 cell assignment + query probes over a centroids CTE —
    * `${p}corpus` (vec_id, cell) and `${p}probes` (query_id, cell). */
  private def ivfCellAssignSql(p: String, centsCte: String, nProbe: Int,
                               queryIdList: String): String =
    s"""${p}cellscore AS (SELECT v.vec_id, ct.cell, round(list_cosine_similarity(ct.s, v.e), 6) AS cc
       |  FROM vecs v CROSS JOIN $centsCte ct),
       |${p}ranked AS (SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS r FROM ${p}cellscore),
       |${p}corpus AS (SELECT vec_id, cell FROM ${p}ranked WHERE r = 1),
       |${p}probes AS (SELECT vec_id AS query_id, cell FROM ${p}ranked
       |           WHERE r <= $nProbe AND vec_id IN ($queryIdList))""".stripMargin

  /**
   * Trained-IVF oracle: the SQL RE-DERIVES the k-means centroids from the
   * data (they are sf-dependent, so they cannot be literals like the seeded
   * ones) with bit-exact parity to [[graft.ops.Ann.trainIvfCentroids]]:
   *  - normalization via `list_dot_product(e, e)` = the same sequential
   *    x*x fold;
   *  - every cosine is `round(list_cosine_similarity(a, b), 6)` = the
   *    proven-parity twin of `VecFunctions.cosineRound6`/`ivfCellsFor`;
   *  - k-center picks and Lloyd assignments tie-break by lowest
   *    vec_id/cell via row_number, matching the Scala strict-inequality
   *    scans;
   *  - the Lloyd mean uses `list_reduce(list(x ORDER BY vec_id), +)` — a
   *    sequential fold in the SAME member order as the Scala reduceLeft.
   * CTEs in the chain are MATERIALIZED: DuckDB inlines plain CTEs per
   * reference, which is exponential in a 10-step greedy chain.
   */
  private def annIvfTrainedOracle: String = {
    import graft.ops.Ann.IvfTrainedProbes
    val (chain, cents) = ivfTrainedChainSql("")
    s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |$chain,
       |${ivfCellAssignSql("", cents, IvfTrainedProbes, "0, 1, 2, 3, 4")},
       |cands AS (SELECT p.query_id, c.vec_id FROM probes p JOIN corpus c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.query_id),
       |scored AS (SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(q.e, v.e), 6) AS cos
       |  FROM cands cd JOIN vecs q ON q.vec_id = cd.query_id JOIN vecs v ON v.vec_id = cd.vec_id),
       |rr AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, neighbor_id, cos, rank FROM rr WHERE rank <= 10""".stripMargin
  }

  /** PQ codebook-derivation + encode + query-distance-table chain, every
    * CTE name `$p`-prefixed (composable with the IVF chain in one WITH).
    * Requires a `vecs` CTE. Final CTEs: `${p}enc` (blk, vec_id, k) and
    * `${p}qd` (query_id, blk, k, d2). */
  private def pqChainSql(p: String, queryIdList: String): String = {
    import graft.ops.Pq.{Blocks, Codes, Iters, SubDim, TrainSample}
    def d2(a: String, b: String): String =
      s"round(list_dot_product($a, $a) - 2*list_dot_product($a, $b) + list_dot_product($b, $b), 6)"
    val sb = new StringBuilder
    sb ++=
      s"""${p}blocks AS (SELECT unnest(range($Blocks)) AS blk),
         |${p}bdims AS (SELECT unnest(range($SubDim)) AS i),
         |${p}sub AS MATERIALIZED (SELECT v.vec_id, b.blk,
         |    list_slice(v.e, b.blk * $SubDim + 1, b.blk * $SubDim + $SubDim) AS s
         |  FROM vecs v CROSS JOIN ${p}blocks b),
         |${p}bsamp AS MATERIALIZED (SELECT vec_id, blk, s FROM ${p}sub WHERE vec_id < $TrainSample),
         |${p}cb_i0 AS MATERIALIZED (SELECT blk, 0 AS k, s FROM ${p}bsamp
         |  WHERE vec_id = (SELECT min(vec_id) FROM ${p}bsamp))""".stripMargin
    for (c <- 1 until Codes) {
      sb ++=
        s""",
           |${p}mn_$c AS (SELECT sp.blk, sp.vec_id, sp.s, min(${d2("ct.s", "sp.s")}) AS mn
           |  FROM ${p}bsamp sp JOIN ${p}cb_i${c - 1} ct ON ct.blk = sp.blk
           |  GROUP BY sp.blk, sp.vec_id, sp.s),
           |${p}bpick_$c AS (SELECT blk, s FROM (SELECT blk, s,
           |    row_number() OVER (PARTITION BY blk ORDER BY mn DESC, vec_id ASC) AS rn
           |  FROM ${p}mn_$c) WHERE rn = 1),
           |${p}cb_i$c AS MATERIALIZED (SELECT * FROM ${p}cb_i${c - 1}
           |  UNION ALL SELECT blk, $c AS k, s FROM ${p}bpick_$c)""".stripMargin
    }
    var prev = s"${p}cb_i${Codes - 1}"
    for (it <- 1 to Iters) {
      sb ++=
        s""",
           |${p}basg_$it AS MATERIALIZED (SELECT blk, vec_id, s, k FROM (
           |    SELECT sp.blk, sp.vec_id, sp.s, ct.k,
           |      row_number() OVER (PARTITION BY sp.blk, sp.vec_id
           |        ORDER BY ${d2("ct.s", "sp.s")} ASC, ct.k ASC) AS rn
           |    FROM ${p}bsamp sp JOIN $prev ct ON ct.blk = sp.blk) WHERE rn = 1),
           |${p}bmean_$it AS (SELECT a.blk, a.k, d.i,
           |    list_reduce(list(a.s[d.i + 1] ORDER BY a.vec_id), (x, y) -> x + y) / count(*) AS v
           |  FROM ${p}basg_$it a CROSS JOIN ${p}bdims d GROUP BY a.blk, a.k, d.i),
           |${p}bnewc_$it AS (SELECT blk, k, list(v ORDER BY i) AS s FROM ${p}bmean_$it GROUP BY blk, k),
           |${p}cb_l$it AS MATERIALIZED (SELECT p.blk, p.k, coalesce(n.s, p.s) AS s
           |  FROM $prev p LEFT JOIN ${p}bnewc_$it n ON n.blk = p.blk AND n.k = p.k)""".stripMargin
      prev = s"${p}cb_l$it"
    }
    sb ++=
      s""",
         |${p}enc AS MATERIALIZED (SELECT blk, vec_id, k FROM (
         |    SELECT sb.blk, sb.vec_id, ct.k,
         |      row_number() OVER (PARTITION BY sb.blk, sb.vec_id
         |        ORDER BY ${d2("ct.s", "sb.s")} ASC, ct.k ASC) AS rn
         |    FROM ${p}sub sb JOIN $prev ct ON ct.blk = sb.blk) WHERE rn = 1),
         |${p}qd AS MATERIALIZED (SELECT q.vec_id AS query_id, ct.blk, ct.k,
         |    ${d2("ct.s", "q.s")} AS d2
         |  FROM ${p}sub q JOIN $prev ct ON ct.blk = q.blk
         |  WHERE q.vec_id IN ($queryIdList))""".stripMargin
    sb.toString
  }

  private def embedDupsLshOracle(threshold: Double): String =
    s"""$lshSigsCte,
       |pairs AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigs a JOIN sigs b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id
       |)
       |SELECT p.vec_a, p.vec_b,
       |  round(list_cosine_similarity(qa.e, qb.e), 6) AS cos
       |FROM pairs p
       |JOIN vecs qa ON qa.vec_id = p.vec_a
       |JOIN vecs qb ON qb.vec_id = p.vec_b
       |WHERE round(list_cosine_similarity(qa.e, qb.e), 6) >= $threshold""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---- per-vector int8 quantization stats (the embedding-storage path)
    QueryDef("q_quantize_int8", (s, dir) =>
      Quantize.int8Stats(table(s, dir, "embeddings")),
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM base),
        |c AS (
        |  SELECT vec_id, v, scale,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> 0::BIGINT)
        |         ELSE list_transform(v, x -> round(x / scale * 127)::BIGINT) END AS codes
        |  FROM s)
        |SELECT vec_id,
        |  len(v)::BIGINT AS n_dims,
        |  round(scale, 6) AS scale,
        |  list_reduce(list_transform(generate_series(1, len(codes)), i -> codes[i] * i),
        |              (a, b) -> a + b)::BIGINT AS code_checksum,
        |  CASE WHEN scale = 0 THEN 0.0
        |       ELSE round(list_max(list_transform(generate_series(1, len(v)),
        |              i -> abs(v[i] - codes[i]::DOUBLE * scale / 127.0))), 6)
        |  END AS max_abs_err
        |FROM c""".stripMargin),

    // ---- embedding-cosine near-dup (label-blocked)
    QueryDef("q_embed_dups", (s, dir) =>
      Dedup.embeddingNearDups(table(s, dir, "embeddings"), 0.4),
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.label = b.label
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 6) >= 0.4""".stripMargin),

    // ---- brute-force cosine top-k ANN (exact baseline)
    QueryDef("q_ann_topk", (s, dir) =>
      Ann.bruteForceTopK(table(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10),
      """WITH scored AS (
        |  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                 CAST(v.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings q JOIN embeddings v ON q.vec_id <> v.vec_id
        |  WHERE q.vec_id IN (0, 1, 2, 3, 4)
        |),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin),

    // ---- LSH-bucketed ANN (scale path; recall-tested vs brute force in AnnSpec)
    QueryDef("q_ann_lsh", (s, dir) =>
      Ann.lshTopK(table(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10),
      // SQL oracle for the LSH-bucketed ANN path: the hyperplanes are
      // deterministic (seeded Gaussian, [[graft.functions.VecFunctions.hyperplanes]]),
      // so they embed as DOUBLE[] literals — `java.lang.Double.toString` emits
      // the shortest decimal that round-trips to the identical IEEE double, and
      // DuckDB's strtod is correctly rounded, so both engines fold the SAME
      // doubles in the SAME index order (sign-of-dot parity is exact, not
      // approximate). Buckets, 1-bit multi-probe, candidate dedup and the
      // round-6 cosine re-rank are then plain SQL, mirroring Ann.lshTopK.
      {
        import graft.ops.Ann.DefaultBits
        s"""$lshSigsCte,
           |qsigs AS (SELECT vec_id AS query_id, tbl, bucket FROM sigs
           |          WHERE vec_id IN (0, 1, 2, 3, 4)),
           |probes AS (
           |  SELECT query_id, tbl, bucket FROM qsigs
           |  UNION
           |  SELECT query_id, tbl, CAST(xor(bucket, 1 << b.b) AS INT)
           |  FROM qsigs, (SELECT unnest(range($DefaultBits)) AS b) b
           |),
           |
           |cands AS (
           |  SELECT DISTINCT p.query_id, s.vec_id
           |  FROM probes p JOIN sigs s ON s.tbl = p.tbl AND s.bucket = p.bucket
           |  WHERE s.vec_id <> p.query_id
           |),
           |scored AS (
           |  SELECT c.query_id, c.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(q.e, v.e), 6) AS cos
           |  FROM cands c
           |  JOIN vecs q ON q.vec_id = c.query_id
           |  JOIN vecs v ON v.vec_id = c.vec_id
           |),
           |ranked AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= 10""".stripMargin
      }),

    // ---- IVF ANN (coarse-quantizer cells + nProbe multi-probe; the
    // billion-vector layout whose cell key partitions the index table)
    QueryDef("q_ann_ivf", (s, dir) =>
      Ann.ivfTopK(table(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10),
      // IVF oracle: seeded centroid literals; cell assignment = rank-1 of the
      // ROUND-6 cosine (matching the Spark kernel's pre-rank rounding, so the
      // argmax is engine-exact); probes = rank<=nProbe for the query set; exact
      // round-6 re-rank inside probed cells.
      {
        import graft.ops.Ann.{DefaultDim, IvfCells, IvfProbes, IvfSeed}
        val cents = graft.functions.VecFunctions.ivfCentroids(IvfCells, DefaultDim, IvfSeed)
        val rows = cents.zipWithIndex.map { case (c, i) =>
          s"($i, ${c.map(java.lang.Double.toString).mkString("[", ", ", "]")})"
        }.mkString(",\n  ")
        s"""WITH cents(cell, c) AS (VALUES
           |  $rows),
           |vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |cellscore AS (
           |  SELECT v.vec_id, ct.cell, round(list_cosine_similarity(ct.c, v.e), 6) AS cc
           |  FROM vecs v CROSS JOIN cents ct
           |),
           |ranked AS (
           |  SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cell) AS r
           |  FROM cellscore
           |),
           |corpus AS (SELECT vec_id, cell FROM ranked WHERE r = 1),
           |probes AS (SELECT vec_id AS query_id, cell FROM ranked
           |           WHERE r <= $IvfProbes AND vec_id IN (0, 1, 2, 3, 4)),
           |cands AS (
           |  SELECT p.query_id, c.vec_id
           |  FROM probes p JOIN corpus c ON c.cell = p.cell
           |  WHERE c.vec_id <> p.query_id
           |),
           |scored AS (
           |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
           |    round(list_cosine_similarity(q.e, v.e), 6) AS cos
           |  FROM cands cd
           |  JOIN vecs q ON q.vec_id = cd.query_id
           |  JOIN vecs v ON v.vec_id = cd.vec_id
           |),
           |rr AS (
           |  SELECT query_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, neighbor_id, cos, rank FROM rr WHERE rank <= 10""".stripMargin
      }),

    // ---- IVF ANN with the TRAINED coarse quantizer (deterministic
    // spherical k-means over a sample; the oracle re-derives the same
    // centroids in SQL — recall 0.65+ at nProbe=4 vs 0.38 seeded)
    QueryDef("q_ann_ivf_trained", (s, dir) =>
      Ann.ivfTopKTrained(table(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L), 10),
      annIvfTrainedOracle),

    // ---- IVF ANN served from the MATERIALIZED cell-partitioned index
    // table (built once per session like the other stage artifacts): the
    // probe pushes a static `cell IN (...)` partition filter, so the scan
    // reads only the probed inverted lists — the billion-vector serving
    // path. Same centroids/probes as q_ann_ivf_trained -> same oracle.
    QueryDef("q_ann_ivf_indexed", (s, dir) => {
      val (path, cents) = ivfIndex(s, dir)
      Ann.ivfTopKIndexed(s, path, table(s, dir, "embeddings"),
        Seq(0L, 1L, 2L, 3L, 4L), 10, cents)
    },
      // the indexed path serves the SAME computation from the materialized
      // cell-partitioned table — identical centroids, probes, and re-rank
      annIvfTrainedOracle),

    // ---- product-quantization ADC top-k (trained per-block codebooks,
    // 4-byte codes, broadcast query distance tables — the memory-bounded
    // billion-vector path)
    QueryDef("q_ann_pq", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val cbs: Seq[Seq[Seq[Double]]] =
        Pq.trainCodebooks(emb).toSeq.map(_.toSeq.map(_.toSeq))
      Pq.adcTopK(emb, Seq(0L, 1L, 2L, 3L, 4L), 10, cbs)
    },
      // PQ oracle: re-derives the per-block codebooks, the corpus codes, and
      // the ADC scores from the data with bit-exact parity to
      // [[graft.ops.Pq]] / [[graft.functions.VecFunctions.d2Round6]]:
      //  - every squared distance is `round(list_dot_product(a,a) -
      //    2*list_dot_product(a,b) + list_dot_product(b,b), 6)` with the
      //    centroid FIRST — the same left-associated grouping and sequential
      //    dot folds as the Scala kernel;
      //  - farthest-first picks rank `ORDER BY mn DESC, vec_id ASC`, Lloyd
      //    and encode assignments rank `ORDER BY d2 ASC, k ASC` — matching
      //    the Scala strict-inequality scans;
      //  - Lloyd means fold members with `list_reduce(list(x ORDER BY
      //    vec_id), +)`, the Scala accumulation order;
      //  - the ADC sum folds the per-block round-6 entries in BLOCK order
      //    (`list_reduce(list(d2 ORDER BY blk))` here, the `aggregate` over
      //    `sequence(0,7)` in Spark; `0.0 + x == x` exactly, so the folds
      //    agree), rounded to 6 dp.
      // One greedy/Lloyd chain handles all 8 blocks at once (the `blk` column
      // rides through every CTE). All chain CTEs are MATERIALIZED — DuckDB
      // inlines plain CTEs, which is exponential in a 15-step chain.
      s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${pqChainSql("", "0, 1, 2, 3, 4")},
         |scored AS (SELECT qd.query_id, e.vec_id AS neighbor_id,
         |    round(list_reduce(list(qd.d2 ORDER BY qd.blk), (x, y) -> x + y), 6) AS approx_d2
         |  FROM enc e JOIN qd ON qd.blk = e.blk AND qd.k = e.k
         |  WHERE e.vec_id <> qd.query_id
         |  GROUP BY qd.query_id, e.vec_id),
         |rr AS (SELECT query_id, neighbor_id, approx_d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_d2 ASC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, approx_d2, rank FROM rr WHERE rank <= 10""".stripMargin),

    // ---- IVFPQ: the composed production layout — trained IVF cells as the
    // physical partition key (probes prune directories), PQ codes as the
    // row payload (the index holds NO raw embeddings)
    QueryDef("q_ann_ivfpq", (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val (_, cents) = ivfIndex(s, dir) // memoized trained coarse quantizer
      val cbs: Seq[Seq[Seq[Double]]] =
        Pq.trainCodebooks(emb).toSeq.map(_.toSeq.map(_.toSeq))
      val path = indexTempDir("graft-ivfpq") + "/index"
      Pq.writeIvfPqIndex(emb, path, cents, cbs)
      Pq.ivfPqTopK(s, path, emb, Seq(0L, 1L, 2L, 3L, 4L), 10, cents, cbs)
    },
      // IVFPQ oracle — the composed production layout: the trained-IVF chain
      // (prefix `iv_`) supplies cell assignments + probed cells, the PQ chain
      // (prefix `pq_`) supplies codes + query distance tables; candidates are
      // the probed-cell members, scored by the same block-ordered ADC fold.
      {
        import graft.ops.Ann.IvfTrainedProbes
        val (ivChain, ivCents) = ivfTrainedChainSql("iv_")
        s"""WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
           |$ivChain,
           |${ivfCellAssignSql("iv_", ivCents, IvfTrainedProbes, "0, 1, 2, 3, 4")},
           |${pqChainSql("pq_", "0, 1, 2, 3, 4")},
           |cands AS (SELECT p.query_id, c.vec_id FROM iv_probes p JOIN iv_corpus c ON c.cell = p.cell
           |  WHERE c.vec_id <> p.query_id),
           |scored AS (SELECT cd.query_id, cd.vec_id AS neighbor_id,
           |    round(list_reduce(list(qd.d2 ORDER BY qd.blk), (x, y) -> x + y), 6) AS approx_d2
           |  FROM cands cd
           |  JOIN pq_enc e ON e.vec_id = cd.vec_id
           |  JOIN pq_qd qd ON qd.query_id = cd.query_id AND qd.blk = e.blk AND qd.k = e.k
           |  GROUP BY cd.query_id, cd.vec_id),
           |rr AS (SELECT query_id, neighbor_id, approx_d2,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY approx_d2 ASC, neighbor_id) AS rank FROM scored)
           |SELECT query_id, neighbor_id, approx_d2, rank FROM rr WHERE rank <= 10""".stripMargin
      }),

    // ---- embedding near-dup blocked by the LSH index itself (no label needed)
    QueryDef("q_embed_dups_lsh", (s, dir) =>
      Dedup.embeddingNearDupsLsh(table(s, dir, "embeddings"), 0.3),
      embedDupsLshOracle(0.3))
  )
}
