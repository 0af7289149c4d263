package graft.pipeline

import graft.model.{TermKind, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** One detected entity mention, with link score (pipeline stages T1+T2 fused). */
final case class Mention(
    conv_id: String,
    turn_idx: Int,
    entity_id: String,
    surface: String,
    n_hits: Long,
    first_pos: Long,
    score: Double)

/**
 * Mention detection + entity-link scoring + triple extraction
 * (BASELINE.json north_star stages T1-T3).
 *
 * T1/T2 run fused in ONE mapPartitions pass over the typed transcript
 * Dataset: the Aho-Corasick automaton is broadcast once and matched against
 * every turn — no per-row regex, no shuffle, codegen-opaque but JIT-hot.
 * At cluster scale the input arrives partitioned by conv_id (the transcript
 * table's partition key), so this stage is embarrassingly parallel across
 * 10^12 turns.
 *
 * T3 is a declarative projection/union over the mention table — Catalyst
 * handles pushdown and the dedup shuffle.
 */
object Extraction {

  /** Shared link-score formula (round-6 parity with the SQL oracle). */
  @inline private def linkScore(n: Long): Double =
    math.rint(n.toDouble / (n + 1).toDouble * 1e6) / 1e6

  /** T1+T2: all gazetteer mentions per turn, scored. One zero-allocation
    * DFA pass per turn; the count/first-offset arrays are reused across the
    * whole partition. */
  def mentions(spark: SparkSession, turns: Dataset[Turn]): Dataset[Mention] = {
    import spark.implicits._
    val ac = AhoCorasick.auto(Gazetteer.surfaces)
    val bc = spark.sparkContext.broadcast((ac, Gazetteer.surfaces, Gazetteer.entityIds))
    // project to the three consumed columns before the opaque pass (column
    // pruning through typed mapPartitions is the caller's job, not Catalyst's)
    turns.select(col("conv_id"), col("turn_idx"), col("text"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        val (trie, surfaces, entityIds) = bc.value
        val counts = new Array[Int](trie.numPatterns)
        val firstPos = new Array[Int](trie.numPatterns)
        it.flatMap { case (convId, turnIdx, turnText) =>
          val text = if (turnText == null) "" else turnText
          trie.matchStats(text, counts, firstPos)
          val out = ArrayBuffer.empty[Mention]
          var idx = 0
          while (idx < counts.length) {
            if (counts(idx) > 0) {
              val n = counts(idx).toLong
              out += Mention(convId, turnIdx, entityIds(idx), surfaces(idx),
                n, firstPos(idx).toLong, linkScore(n))
            }
            idx += 1
          }
          out
        }
      }
  }

  /**
   * Fused candidate-link edge extraction: overlapping-alias pairs (same
   * turn, same first offset) computed INSIDE the mention-detection pass —
   * per turn, mentions are grouped by offset locally, so the only shuffle
   * is the final per-pair count (partial-aggregated map-side). At 10^12
   * turns this removes the mention-table self-join entirely: no re-shuffle
   * of the mention rows, no join, just a gazetteer^2-bounded pair agg.
   * Output: (entity_a, entity_b, weight) — identical to
   * linkEdges(mentions, 0).
   */
  def linkEdgesFused(spark: SparkSession, turns: Dataset[Turn]): DataFrame = {
    // Fully declarative since round 4: the same-offset pair sweep is the
    // native codegen'd [[MentionPairs]] expression (zero-copy DFA over the
    // Tungsten UTF8String, O(matched^2) local sweep), returning encoded
    // pattern-index pairs per turn; decode to entity ids is div/mod +
    // element_at on a literal array (zero per-row object churn), ordering
    // mirrors the original lexicographic (a, b) normalization via
    // least/greatest, and the per-pair count agg stays the only shuffle.
    // No mapPartitions boundary: scan -> project -> explode -> project ->
    // partial agg in ONE WholeStageCodegen span, and Catalyst prunes the
    // scan to the text column on its own.
    val nPat = Gazetteer.surfaces.length
    val entArr = array(Gazetteer.entityIds.map(lit).toIndexedSeq: _*)
    val ea = element_at(entArr, (col("pair") / nPat).cast("int") + 1)
    val eb = element_at(entArr, pmod(col("pair"), lit(nPat)) + 1)
    turns.toDF()
      .select(explode(MentionPairs.mention_pairs(col("text"))).as("pair"))
      .select(least(ea, eb).as("entity_a"), greatest(ea, eb).as("entity_b"))
      .groupBy("entity_a", "entity_b")
      .agg(count(lit(1)).as("weight"))
  }

  /**
   * Candidate-link edges for canonicalization (input to T4): entity pairs
   * whose first mentions in a turn start within `maxDist` characters of each
   * other — at the default 0, exactly the overlapping-alias case ("table"
   * and "table scan" matched at the same offset are candidate references to
   * one entity). Implemented as a self-join on the (conv_id, turn_idx)
   * composite key — per-turn mention cardinality is small and bounded by
   * the gazetteer, so the join explodes locally, not combinatorially; the
   * aggregate that follows is the only shuffle.
   */
  def linkEdges(mentions: Dataset[Mention], maxDist: Long = 0L): DataFrame = {
    if (maxDist == 0L) {
      // same-offset overlap: an EQUALITY join on (conv_id, turn_idx,
      // first_pos). Including the offset in the join key collapses the
      // per-turn pair explosion (|gazetteer|^2 rows per turn in the generic
      // theta-join) to only the actual overlaps — at 10^12 turns this is
      // the difference between a 200x row blow-up and a ~1x join.
      val a = mentions.toDF().select(
        col("conv_id"), col("turn_idx"), col("first_pos"),
        col("entity_id").as("entity_a"))
      val b = mentions.toDF().select(
        col("conv_id"), col("turn_idx"), col("first_pos"),
        col("entity_id").as("entity_b"))
      a.join(b, Seq("conv_id", "turn_idx", "first_pos"))
        .where(col("entity_a") < col("entity_b"))
        .groupBy(col("entity_a"), col("entity_b"))
        .agg(count(lit(1)).as("weight"))
    } else {
      val a = mentions.toDF().select(
        col("conv_id"), col("turn_idx"),
        col("entity_id").as("entity_a"), col("first_pos").as("pos_a"))
      val b = mentions.toDF().select(
        col("conv_id"), col("turn_idx"),
        col("entity_id").as("entity_b"), col("first_pos").as("pos_b"))
      a.join(b, Seq("conv_id", "turn_idx"))
        .where(col("entity_a") < col("entity_b") &&
          abs(col("pos_a") - col("pos_b")) <= maxDist)
        .groupBy(col("entity_a"), col("entity_b"))
        .agg(count(lit(1)).as("weight"))
    }
  }

  /**
   * T3: extracted (s, p, o) triples with conv/turn provenance. Columns:
   * s, p, o, o_kind (0=IRI, 2=literal), conv_id, turn_idx.
   *
   *  - mention triples: <urn:conv:C> urn:graft:mentions <urn:ENT-canonical>
   *  - structure triples: <urn:conv:C:T> urn:graft:partOf <urn:conv:C>
   *  - role triples: <urn:conv:C:T> urn:graft:role "role"
   *  - tool triples: <urn:conv:C:T> urn:graft:usedTool "tool" (agent tool
   *    calls from the input_hint's `tool` column; null = no tool used)
   */
  /** Entity count probe for the broadcast-vs-shuffle switch (bounded: never
    * pulls more than limit+1 rows through the count). */
  private def entityCount(canonical: DataFrame, limit: Long): Long =
    canonical.limit(math.min(limit + 1, Int.MaxValue.toLong).toInt).count()

  /**
   * Resolve `entity_id -> canonical_id` onto mention-keyed rows. Below
   * `broadcastLimit` entities the dimension is broadcast (hash join — the
   * fact side never shuffles). Above it — the production dimension is
   * 10^6–10^8 aliases (Gazetteer.scala:9), gigabytes as a driver map — it
   * becomes a SALTED shuffle join: the dimension is exploded x saltBuckets
   * and the fact side joins on (entity_id, salt), so one hot alias spreads
   * over saltBuckets reducers instead of pinning one.
   */
  private def withCanonical(mentionRows: DataFrame, canonical: DataFrame,
                            broadcastLimit: Long, saltBuckets: Int): DataFrame = {
    val dim = canonical.select(col("entity_id"), col("canonical_id"))
    if (entityCount(dim, broadcastLimit) <= broadcastLimit)
      mentionRows.join(broadcast(dim), Seq("entity_id"), "left")
    else {
      val salted = dim.withColumn("salt",
        explode(array((0 until saltBuckets).map(lit): _*)))
      mentionRows
        .withColumn("salt",
          pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(saltBuckets)).cast("int"))
        .join(salted, Seq("entity_id", "salt"), "left")
        .drop("salt")
    }
  }

  def triples(mentions: Dataset[Mention], canonical: DataFrame, turns: DataFrame,
              entityBroadcastLimit: Long = 5000000L, saltBuckets: Int = 16): DataFrame = {
    // Canonical resolution is a JOIN (broadcast under the limit, salted
    // shuffle above — see withCanonical), and the per-turn distinct on
    // canonical ids is DECLARATIVE: dropDuplicates on the output columns.
    // The earlier per-partition 'seen' pass assumed each turn's mention
    // rows stay contiguous in one partition — true straight out of the
    // extraction pass, but NOT guaranteed when mentions are re-read from
    // parquet (stage resume splits row groups at arbitrary boundaries).
    val resolved = withCanonical(
      mentions.toDF().select(col("entity_id"), col("conv_id"), col("turn_idx")),
      canonical, entityBroadcastLimit, saltBuckets)
    val m = resolved.select(
      concat(lit("urn:conv:"), col("conv_id")).as("s"),
      lit("urn:graft:mentions").as("p"),
      concat(lit("urn:"), coalesce(col("canonical_id"), col("entity_id"))).as("o"),
      lit(0).as("o_kind"),
      col("conv_id"), col("turn_idx"))
      .dropDuplicates("s", "p", "o", "o_kind", "conv_id", "turn_idx")
    val turnIri = concat(lit("urn:conv:"), col("conv_id"), lit(":"), col("turn_idx"))
    val structure = turns.select(
      turnIri.as("s"),
      lit("urn:graft:partOf").as("p"),
      concat(lit("urn:conv:"), col("conv_id")).as("o"),
      lit(0).as("o_kind"),
      col("conv_id"), col("turn_idx"))
    val roles = turns.select(
      turnIri.as("s"),
      lit("urn:graft:role").as("p"),
      col("role").as("o"),
      lit(2).as("o_kind"),
      col("conv_id"), col("turn_idx"))
    // tool-usage triples: the input_hint's `tool` column (agent tool calls)
    val tools = turns.where(col("tool").isNotNull).select(
      turnIri.as("s"),
      lit("urn:graft:usedTool").as("p"),
      col("tool").as("o"),
      lit(2).as("o_kind"),
      col("conv_id"), col("turn_idx"))
    m.unionByName(structure).unionByName(roles).unionByName(tools)
  }

  /** T3 triples as [[graft.model.TripleRow]] columns: every subject is an
    * IRI, `o_kind` is the int term kind, and no object carries a datatype
    * or language tag. Provenance columns are dropped. */
  def tripleRows(triples: DataFrame): DataFrame = triples.select(
    col("s"), lit(TermKind.Iri).as("s_kind"), col("p"),
    col("o"), col("o_kind").cast("int").as("o_kind"),
    lit(null).cast("string").as("o_dtype"), lit(null).cast("string").as("o_lang"))

  /**
   * T1+T2+T3 in ONE pass for the throughput path: the compositional
   * [[triples]] plan evaluates the transcript source three times (mention
   * branch + structure branch + role branch of the union) and runs the
   * automaton once more than needed; with no persist (see BENCH.md — at
   * this corpus size serialized caches spill and anti-scale) that is 3x
   * the synthesis allocations. Fusing emission into the extraction
   * mapPartitions reads the corpus ONCE, which both cuts wall time and —
   * because allocation pressure is what caps 32-thread GC scaling on one
   * heap — improves the N->4N efficiency. Emits exactly the same rows.
   */
  // slot markers for the per-turn fixed triples; slot >= 0 is a dense
  // distinct-canonical index (a mention triple)
  private val SlotPartOf = -1
  private val SlotRole = -2
  private val SlotTool = -3

  def triplesFused(spark: SparkSession, turns: Dataset[Turn], canonical: DataFrame,
                   entityBroadcastLimit: Long = 5000000L, saltBuckets: Int = 16): DataFrame = {
    if (entityCount(canonical, entityBroadcastLimit) > entityBroadcastLimit)
      return triplesFusedJoin(spark, turns, canonical, saltBuckets)
    val canonMap = canonical.select("entity_id", "canonical_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // Allocation discipline (rounds 3-4): GC pressure on ONE shared heap is
    // what caps 32-thread scaling, so the whole fused pass is DECLARATIVE —
    // scan -> project -> explode -> project in one WholeStageCodegen span,
    // no mapPartitions object boundary. Mention detection itself is the
    // native codegen'd [[MentionSlots]] expression (zero-copy DFA walk over
    // the Tungsten UTF8String); per turn it yields a slot array
    // (SlotPartOf/SlotRole, +SlotTool when tool is present, then one dense
    // distinct-canonical id per mention, per-turn deduped), and the ~15x
    // fan-out to triple rows writes straight into Tungsten rows. The
    // earlier typed-lambda shapes paid, per turn, a 5-field tuple
    // deserialization (3 Strings + copied byte[]) plus re-serialization —
    // measured 120 core-seconds of GC at local[16] vs 10 at local[4].
    // canonKey(p): pattern -> dense distinct-canonical index, fixed at
    // plan time from the static gazetteer x canonical map.
    val canonIds = Gazetteer.entityIds.map(e => canonMap.getOrElse(e, e))
    val distinctCanon = canonIds.distinct
    val canonIdx = distinctCanon.zipWithIndex.toMap
    val canonKeys = canonIds.map(canonIdx).toSeq
    val slots = concat(
      array(lit(SlotPartOf), lit(SlotRole)),
      when(col("tool").isNotNull, array(lit(SlotTool)))
        .otherwise(array().cast("array<int>")),
      MentionSlots.mention_slots(col("text"), canonKeys, distinctCanon.length))
    val canonIriCol = array(distinctCanon.map(c => lit("urn:" + c)).toIndexedSeq: _*)
    val convIri = concat(lit("urn:conv:"), col("conv_id"))
    val turnIri = concat(convIri, lit(":"), col("turn_idx"))
    turns.toDF()
      // the IRI concats are projected BELOW the generate, so each is
      // evaluated once per TURN; after the explode the ~15 triple rows
      // only reference the already-built strings (a concat above the
      // generate would re-allocate s per OUTPUT row)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        convIri.as("conv_iri"), turnIri.as("turn_iri"),
        explode(slots).as("slot"))
      .select(
        when(col("slot") >= 0, col("conv_iri")).otherwise(col("turn_iri")).as("s"),
        when(col("slot") === SlotPartOf, "urn:graft:partOf")
          .when(col("slot") === SlotRole, "urn:graft:role")
          .when(col("slot") === SlotTool, "urn:graft:usedTool")
          .otherwise("urn:graft:mentions").as("p"),
        when(col("slot") === SlotPartOf, col("conv_iri"))
          .when(col("slot") === SlotRole, col("role"))
          .when(col("slot") === SlotTool, col("tool"))
          .otherwise(element_at(canonIriCol, col("slot") + 1)).as("o"),
        when(col("slot") === SlotRole || col("slot") === SlotTool, 2)
          .otherwise(0).as("o_kind"),
        col("conv_id"), col("turn_idx"))
  }

  /** The five columns the fused passes consume — projected before the
    * opaque mapPartitions so the scan never materializes ts, with the
    * text pre-encoded to UTF-8 bytes for the byte-level DFA. */
  private def slim(turns: Dataset[Turn]): Dataset[(String, Int, String, String, Array[Byte])] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns.select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        encode(col("text"), "UTF-8"))
      .as[(String, Int, String, String, Array[Byte])]
  }

  /**
   * The above-broadcast-limit variant of [[triplesFused]]: the single fused
   * extraction pass still reads the corpus ONCE, emitting mention rows with
   * the UNRESOLVED entity id in `o`; canonical resolution then runs as the
   * salted shuffle join from [[withCanonical]]'s big path, and per-turn
   * mention dedup is declarative (dropDuplicates). Structure/role rows ride
   * through the join unmatched (their `o` is never an entity id) — one
   * extra shuffle of those rows is the price of not re-reading a 100 TB
   * corpus per branch. Emits exactly the same rows as the small path.
   */
  private def triplesFusedJoin(spark: SparkSession, turns: Dataset[Turn],
                               canonical: DataFrame, saltBuckets: Int): DataFrame = {
    import spark.implicits._
    val ac = AhoCorasick.auto(Gazetteer.surfaces)
    val bc = spark.sparkContext.broadcast((ac, Gazetteer.entityIds))
    val raw = slim(turns).mapPartitions { it =>
      val (trie, entityIds) = bc.value
      val counts = new Array[Int](trie.numPatterns)
      val firstPos = new Array[Int](trie.numPatterns)
      val out = ArrayBuffer.empty[(String, String, String, Int, String, Int)]
      it.flatMap { case (convId, turnIdx, role, tool, turnText) =>
        val convIri = "urn:conv:" + convId
        val turnIri = convIri + ":" + turnIdx
        out.clear()
        out += ((turnIri, "urn:graft:partOf", convIri, 0, convId, turnIdx))
        out += ((turnIri, "urn:graft:role", role, 2, convId, turnIdx))
        if (tool != null)
          out += ((turnIri, "urn:graft:usedTool", tool, 2, convId, turnIdx))
        val text = if (turnText == null) Array.emptyByteArray else turnText
        trie.matchStatsBytes(text, counts, firstPos)
        var i = 0
        while (i < counts.length) {
          if (counts(i) > 0)
            out += ((convIri, "urn:graft:mentions", entityIds(i), 0,
              convId, turnIdx))
          i += 1
        }
        out
      }
    }.toDF("s", "p", "o", "o_kind", "conv_id", "turn_idx")
    val dim = canonical
      .select(col("entity_id").as("o"), col("canonical_id"))
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit): _*)))
    raw
      .withColumn("salt",
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(saltBuckets)).cast("int"))
      .join(dim, Seq("o", "salt"), "left")
      .select(col("s"), col("p"),
        when(col("p") === "urn:graft:mentions",
          concat(lit("urn:"), coalesce(col("canonical_id"), col("o"))))
          .otherwise(col("o")).as("o"),
        col("o_kind"), col("conv_id"), col("turn_idx"))
      .dropDuplicates("s", "p", "o", "o_kind", "conv_id", "turn_idx")
  }
}
