package graft.rdf

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed RDF graph operations over `Dataset[TripleRow]`.
 *
 * Scale design (SURVEY §2.1 O1/O4/O6):
 *  - N-Triples is line-splittable → `spark.read.text` parallelizes the scan
 *    across the cluster; each line parses independently inside
 *    `mapPartitions` (no shuffle, no driver involvement).
 *  - Turtle/JSON-LD/RDF-XML are whole-document grammars → `binaryFile`
 *    source, one document per task, parsed by the driver-side codecs reused
 *    inside executors; blank-node labels are salted per source file to
 *    reproduce rdflib's fresh-bnode-ids-per-parse merge behavior.
 *  - NT serialization is a pure codegen'd projection (chained `replace` for
 *    ECHAR escaping — stays inside whole-stage codegen; no UDF).
 *  - merge = UNION ALL + `dropDuplicates` on the six term columns — a single
 *    hash-aggregate shuffle, the reference's set-union semantics at cluster
 *    scale.
 */
object DistributedRdf {

  // ------------------------------------------------------------------- reads

  /**
   * Distributed N-Triples scan: splittable text source, per-line parse.
   * The whole path is ONE logical document/label space — the round-trip
   * contract for reading back a [[writeNt]] output directory, where
   * salting would silently split a blank node whose triples straddle a
   * shard boundary into two nodes (the data-corrupting direction). Use
   * [[readNtMerged]] to merge independent documents.
   */
  def readNt(spark: SparkSession, path: String): Dataset[TripleRow] = {
    import spark.implicits._
    spark.read.textFile(path).mapPartitions(
      _.flatMap(l => NtCodec.parseLine(l).map(TripleRow.fromTriple)))
  }

  /**
   * Multi-file N-Triples MERGE read: each source file is its own bnode
   * label space (per-file salting, [[fileSalt]]), matching rdflib's
   * fresh-bnode-ids-per-parse behavior when merging independent documents
   * (SURVEY O6): identical labels in different files are DISTINCT nodes.
   */
  def readNtMerged(spark: SparkSession, path: String): Dataset[TripleRow] = {
    import spark.implicits._
    spark.read.text(path)
      .select(input_file_name().as("f"), $"value")
      .as[(String, String)]
      .mapPartitions(_.flatMap { case (file, l) =>
        NtCodec.parseLine(l).map(t => TripleRow.fromTriple(saltBnodes(t, fileSalt(file))))
      })
  }

  /**
   * Per-source-file blank-node salt: 64-bit FNV-1a of the path, stable and
   * dependency-free (a 32-bit hash such as `String.hashCode` collides near
   * 10^5 files, and already on short names: "Aa" and "BB").
   */
  private def fileSalt(path: String): String = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < path.length) { h ^= path.charAt(i); h *= 0x100000001b3L; i += 1 }
    java.lang.Long.toHexString(h)
  }

  /**
   * Distributed read of whole-document formats: one file per row via the
   * binaryFile source, parsed per-partition, blank nodes salted per file.
   * `pathGlob` may use glob stars.
   */
  def readDocs(spark: SparkSession, pathGlob: String, format: RdfFormat): Dataset[TripleRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"path", $"content")
      .as[(String, Array[Byte])]
      .mapPartitions { files =>
        files.flatMap { case (path, bytes) =>
          val doc = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
          val salt = fileSalt(path)
          RdfIo.parse(doc, format).triples.iterator.map { t =>
            TripleRow.fromTriple(saltBnodes(t, salt))
          }
        }
      }
  }

  /** Prefix every blank-node label with `salt`, giving one label space per source. */
  private[rdf] def saltBnodes(t: Triple, salt: String): Triple = {
    def f(x: RdfTerm) = if (x.isBNode) x.copy(value = s"${salt}_${x.value}") else x
    Triple(f(t.s), t.p, f(t.o))
  }

  // ------------------------------------------------------------------- merge

  /**
   * n-ary distributed merge: UNION ALL then set-dedup on the term columns
   * only (provenance-free set semantics, SURVEY §1.1). One shuffle.
   */
  def merge(graphs: Seq[Dataset[TripleRow]]): Dataset[TripleRow] = {
    require(graphs.nonEmpty, "merge requires at least one graph")
    graphs.reduce(_ unionAll _)
      .dropDuplicates("s", "s_kind", "p", "o", "o_kind", "o_dtype", "o_lang")
  }

  // --------------------------------------------------------------- serialize

  /** Codegen'd N-Triples ECHAR escaping for a string column (no UDF). */
  def ntEscape(c: Column): Column = {
    // order matters: backslash first
    val esc = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(c, "\\\\", "\\\\\\\\"),
          "\"", "\\\\\""),
        "\n", "\\\\n"),
      "\r", "\\\\r")
    regexp_replace(esc, "\t", "\\\\t")
  }

  /** Render one term (value/kind/dtype/lang columns) as its NT token. */
  def ntTerm(value: Column, kind: Column, dtype: Column, lang: Column): Column =
    when(kind === TermKind.Iri, concat(lit("<"), value, lit(">")))
      .when(kind === TermKind.BNode, concat(lit("_:"), value))
      .otherwise(
        concat(lit("\""), ntEscape(value), lit("\""),
          when(lang.isNotNull, concat(lit("@"), lang))
            .when(dtype.isNotNull, concat(lit("^^<"), dtype, lit(">")))
            .otherwise(lit(""))))

  /** Project a triple Dataset to its NT lines — pure whole-stage-codegen. */
  def ntLines(triples: DataFrame): DataFrame = {
    val df = triples
    df.select(
      concat(
        ntTerm(col("s"), col("s_kind"), lit(null), lit(null)), lit(" "),
        concat(lit("<"), col("p"), lit(">")), lit(" "),
        ntTerm(col("o"), col("o_kind"), col("o_dtype"), col("o_lang")),
        lit(" .")).as("line"))
  }

  /** Write a triple Dataset as N-Triples text files (one shard per partition). */
  def writeNt(triples: DataFrame, path: String): Unit =
    ntLines(triples).write.mode("overwrite").text(path)

  /**
   * Distributed single-doc-format export, sharded BY NAMED GRAPH: each
   * graph serializes as one Turtle/JSON-LD/RDF-XML document, graphs in
   * parallel across the cluster — T6 at scale for the formats that are not
   * line-splittable (NT bulk interchange stays [[writeNt]]). One shuffle
   * (repartition on graph_iri) co-locates each graph on one task; the task
   * serializes with the SAME byte-compatible driver codecs and writes
   * `<dir>/<urlencoded-graph-iri>.<ext>` through Hadoop FileSystem (any
   * scheme). Bound: one GRAPH (not the corpus) must fit a task.
   *
   * Output bytes are identical to `RdfIo.writeFile` of the same triple set
   * (serializer-internal sorts make row order irrelevant; the same
   * trailing-newline normalization applies).
   */
  def writeDocsByGraph(triples: DataFrame, dirUri: String, format: RdfFormat,
                       prefixes: Map[String, String] = Map.empty): Long = {
    val spark = triples.sparkSession
    import spark.implicits._
    val fmtToken = format.token
    val ext = RdfFormat.outputFileEndings.getOrElse(fmtToken, fmtToken)
    // ship the SESSION's Hadoop conf to the tasks — a bare `new
    // Configuration()` on the executor drops every spark.hadoop.* setting
    // (s3a credentials/endpoints, hdfs nameservices), breaking the
    // any-scheme contract for everything but file://
    val hadoopConf: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += (e.getKey -> e.getValue) }
      buf.toArray
    }
    val shards = triples
      .select(col("graph_iri"), col("s"), col("s_kind"), col("p"),
        col("o"), col("o_kind"), col("o_dtype"), col("o_lang"))
      .as[(String, String, Int, String, String, Int, String, String)]
      .repartition(col("graph_iri"))
      .sortWithinPartitions(col("graph_iri"))
      .mapPartitions { it =>
        // sorted input → consume one graph's contiguous run at a time, so
        // only ONE graph is resident per task (the documented bound), not
        // every graph hashed to the partition
        val conf = new org.apache.hadoop.conf.Configuration(false)
        hadoopConf.foreach { case (k, v) => conf.set(k, v) }
        val fs = new org.apache.hadoop.fs.Path(dirUri).getFileSystem(conf)
        fs.mkdirs(new org.apache.hadoop.fs.Path(dirUri))
        val rows = it.buffered
        new Iterator[String] {
          def hasNext: Boolean = rows.hasNext
          def next(): String = {
            val graphIri = rows.head._1
            val ts = scala.collection.mutable.ArrayBuffer.empty[Triple]
            while (rows.hasNext && rows.head._1 == graphIri) {
              val (_, s, sk, p, o, ok, od, ol) = rows.next()
              ts += TripleRow(s, sk, p, o, ok, od, ol).asTriple
            }
            val doc = RdfIo.normalizeTail(
              RdfIo.serialize(ParsedGraph(ts.toVector, prefixes), format))
            val out = new org.apache.hadoop.fs.Path(dirUri,
              java.net.URLEncoder.encode(graphIri, "UTF-8") + "." + ext)
            val os = fs.create(out, true)
            try os.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally os.close()
            graphIri
          }
        }
      }
    shards.count()
  }

  // ----------------------------------------------------------- clean support

  /**
   * Used-namespace detection for `clean` at scale (SURVEY O7): explode the
   * three term columns, broadcast-join the (small) prefix table on a
   * substring predicate, distinct. Returns used (prefix, ns) pairs.
   */
  def usedNamespaces(spark: SparkSession, triples: DataFrame,
                     prefixes: Map[String, String]): DataFrame = {
    import spark.implicits._
    val nsDf = prefixes.toSeq.toDF("prefix", "ns")
    val terms = triples.select(explode(array(
      when(col("s_kind") =!= TermKind.Literal, col("s")),
      col("p"),
      when(col("o_kind") =!= TermKind.Literal, col("o")).otherwise(col("o_dtype"))
    )).as("term")).where(col("term").isNotNull).distinct()
    terms.join(broadcast(nsDf), col("term").contains(col("ns")))
      .select("prefix", "ns").distinct()
  }
}
