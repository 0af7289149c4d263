package graft.rdf

import graft.catalog.GraphCatalog
import graft.model._
import org.apache.spark.sql.SparkSession

/**
 * The reference's persistence-system strategy surface
 * (/root/reference/rdfx/persistence_systems.py:37-98 and the
 * `PERSISTENCE_SYSTEMS` registry at :888), re-expressed over this engine's
 * primitives: String/File/S3 on the Hadoop-FileSystem IO in [[RdfIo]], SOP
 * on the named-graph [[GraphCatalog]], GraphDB/Fuseki as the validating
 * stubs the reference ships (write raises NotImplemented,
 * persistence_systems.py:312-399).
 *
 * A user of the reference addressing systems by name can switch 1:1:
 * `PersistenceSystems.names` carries the same six keys.
 */
sealed trait PersistenceSystem {
  def name: String
}

/** S1 String (persistence_systems.py:101-144). */
final class StringStore extends PersistenceSystem {
  val name = "String"
  def read(string: String, rdfFormat: String = "turtle"): (Seq[String], ParsedGraph) =
    RdfIo.readString(string, rdfFormat)
  def write(g: ParsedGraph, rdfFormat: String = "turtle",
            leadingComments: Seq[String] = Nil): String =
    RdfIo.generateString(g, rdfFormat, leadingComments)
}

/**
 * S2 File (persistence_systems.py:147-213) over any Hadoop-FS URI — which
 * makes S3 (S3/:216-309) the same code path with an `s3a://` directory.
 */
class FileStore(val dirUri: String) extends PersistenceSystem {
  val name: String = "File"
  def read(filename: String): (Seq[String], ParsedGraph) =
    RdfIo.readFile(new org.apache.hadoop.fs.Path(dirUri, filename).toString)
  def write(g: ParsedGraph, filename: String, rdfFormat: String = "turtle",
            leadingComments: Seq[String] = Nil): String =
    RdfIo.writeFile(g, dirUri, filename, rdfFormat, leadingComments)
  def exists(filename: String): Boolean =
    RdfIo.fileExists(new org.apache.hadoop.fs.Path(dirUri, filename).toString)
}

/** S3 = the File path with an object-store URI (persistence_systems.py:216-309). */
final class S3Store(bucketUri: String) extends FileStore(bucketUri) {
  override val name: String = "S3"
}

/**
 * S6 SOP/EDG semantics over the named-graph catalog: write = import-merge
 * into the (workflow-resolved) graph with the reference's exact response
 * message; read/exists/count/query = the O9–O11 surface. The reference
 * talks HTTP to a TopBraid server (persistence_systems.py:402-842); the
 * observable semantics — named graphs addressed by IRI/URN, set-union
 * import, ASK/COUNT/SELECT-LIMIT — live here.
 */
final class SopStore(spark: SparkSession, catalog: GraphCatalog,
                     username: String = "Administrator") extends PersistenceSystem {
  val name = "SOP"

  private def toDf(g: ParsedGraph) = {
    import spark.implicits._
    g.triples.map(TripleRow.fromTriple).toDF()
  }

  private def emptyGraphDf = {
    import spark.implicits._
    spark.emptyDataset[TripleRow].toDF()
  }

  // ------------------------------------------------ asset creation surface
  //
  // persistence_systems.py:592-758. The reference POSTs TopBraid form data
  // and returns the minted IRI; the observable client contract — URN shapes,
  // name defaulting, already-exists failure — lives here over the catalog
  // (created assets register as named graphs, so asset_exists sees them).
  // Name defaulting diverges from the reference in exactly one sanctioned
  // way: the default embeds a CALLER-SUPPLIED token where the reference
  // embeds datetime.now() (this engine keeps wall-clock out of data paths
  // for deterministic reruns).

  /** Reference quirk note: the Python strips `"urn:x-evn-master"` with
    * `str.strip` (a CHARACTER-SET strip, which can eat leading/trailing
    * name characters from {u,r,n,x,e,v,m,a,s,t,:,-}); the intended —
    * and here implemented — semantics is a prefix strip. */
  private def stripMasterPrefix(n: String): String =
    n.stripPrefix("urn:x-evn-master").stripPrefix(":")

  private def defaultedName(kind: String, name: Option[String], nameToken: Option[String]): String =
    name.map(stripMasterPrefix).filter(_.nonEmpty).getOrElse {
      val token = nameToken.getOrElse(throw new IllegalArgumentException(
        s"either a ${kind.toLowerCase}_name or a nameToken (the deterministic stand-in for " +
          "the reference's datetime.now() default) is required"))
      s"Python_created_${kind}_by_${System.getProperty("user.name")}_at_$token"
    }

  /** create_datagraph (persistence_systems.py:592-638): mint a master-graph
    * IRI, register it in the store, return `urn:x-evn-master:<id>`. The
    * server derives the project id from the name; locally id == name. */
  def createDatagraph(datagraphName: Option[String] = None,
                      description: Option[String] = None,
                      subjectArea: Option[String] = None,
                      defaultNamespace: Option[String] = None,
                      nameToken: Option[String] = None): String = {
    val n = defaultedName("Datagraph", datagraphName, nameToken)
    val ns = defaultNamespace.getOrElse(
      s"https://data.surroundaustralia.com/data/$n#".replace(" ", "_"))
    val iri = s"urn:x-evn-master:$n"
    if (!catalog.exists(iri))
      catalog.write(iri, emptyGraphDf, leadingComments = Seq(s"baseURI: ${ns.dropRight(1)}"))
    iri
  }

  /** create_workflow (persistence_systems.py:640-669): returns
    * `<graph_iri>:<workflow_name>:<username>` with `urn:x-evn-master` →
    * `urn:x-evn-tag` — the workflow URN shape graphFromWorkflow unmunges.
    * No storage side effect: a workflow exists iff its master graph does
    * (the reference's asset_exists delegation, :760-784). */
  def createWorkflow(graphIri: String,
                     workflowName: Option[String] = None,
                     nameToken: Option[String] = None): String = {
    val n = defaultedName("Workflow", workflowName, nameToken)
    s"$graphIri:$n:$username".replace("urn:x-evn-master", "urn:x-evn-tag")
  }

  /** create_manifest (persistence_systems.py:671-711): identical shape to
    * create_datagraph with manifest defaults. */
  def createManifest(manifestName: Option[String] = None,
                     description: Option[String] = None,
                     subjectArea: Option[String] = None,
                     defaultNamespace: Option[String] = None,
                     nameToken: Option[String] = None): String = {
    val n = defaultedName("Manifest", manifestName, nameToken)
    val ns = defaultNamespace.getOrElse(
      s"https://data.surroundaustralia.com/manifest/$n#".replace(" ", "_"))
    val iri = s"urn:x-evn-master:$n"
    if (!catalog.exists(iri))
      catalog.write(iri, emptyGraphDf, leadingComments = Seq(s"baseURI: ${ns.dropRight(1)}"))
    iri
  }

  /** create_file (persistence_systems.py:713-758): derive the baseURI from
    * the file path, fail if the asset already exists (the reference's
    * ValueError, message preserved), otherwise create the asset and import
    * the file's graph into it; returns the baseURI. `filePathUri` may be
    * any Hadoop URI. (The reference's no-argument default is unusable
    * upstream — a str default then `file_path.name` raises AttributeError —
    * so the path is required here.) */
  def createFile(filePathUri: String,
                 defaultNamespace: Option[String] = None): String = {
    val ns = defaultNamespace.getOrElse(
      s"https://data.surroundaustralia.com/file/$filePathUri#".replace(" ", "_"))
    val baseUri = ns.dropRight(1)
    if (assetExists(baseUri))
      throw new IllegalArgumentException(
        s"Asset (probably a file) already exists with baseURI: $baseUri")
    val (comments, g) = RdfIo.readFile(filePathUri)
    write(g, baseUri, comments)
    baseUri
  }

  /** persistence_systems.py:453-488; workflow URNs import into their master
    * graph (`graph_from_workflow`), matching the reference's projectGraph
    * resolution; returns the server's fixture-pinned message. */
  def write(g: ParsedGraph, graphIri: String, leadingComments: Seq[String] = Nil): String = {
    if (!(graphIri.startsWith("http") || graphIri.startsWith("urn")))
      throw new IllegalArgumentException(
        s"The value you supplied for graph_iri ($graphIri) is not valid")
    val resolved = graft.catalog.GraphCatalog.resolveGraphIri(graphIri)
    val n = g.triples.distinct.size
    catalog.write(resolved, toDf(g), overwrite = false, leadingComments = leadingComments)
    s"File with $n statements has been imported successfully. \n"
  }

  /** read by graph IRI/URN → (leading comments, driver-side graph). Bounded
    * by maxTriples: one asset graph is collected to the driver, not a
    * corpus. */
  def read(graphIri: String, maxTriples: Int = 5000000): (Seq[String], ParsedGraph) = {
    val resolved = graft.catalog.GraphCatalog.resolveGraphIri(graphIri)
    val (comments, df) = catalog.read(resolved)
    val rows = df.limit(maxTriples + 1).collect()
    require(rows.length <= maxTriples, s"graph exceeds $maxTriples triples; read via the catalog DataFrame")
    (comments, ParsedGraph(rows.map(r => TripleRow(
      r.getAs[String]("s"), r.getAs[Int]("s_kind"), r.getAs[String]("p"),
      r.getAs[String]("o"), r.getAs[Int]("o_kind"),
      r.getAs[String]("o_dtype"), r.getAs[String]("o_lang")).asTriple).toVector, Map.empty))
  }

  def assetExists(graphIri: String): Boolean = catalog.exists(graphIri)

  /** asset_collection_size (persistence_systems.py:582-590). */
  def assetCollectionSize(assetIri: String): Long =
    catalog.count(graft.catalog.GraphCatalog.resolveGraphIri(assetIri))

  private val AskRe =
    """(?is)\s*ASK\s+WHERE\s*\{\s*GRAPH\s*<([^>]+)>\s*\{\s*\?s\s+\?p\s+\?o\s*\}\s*\}\s*""".r
  private val CountRe =
    """(?is)\s*SELECT\s*\(\s*COUNT\(\*\)\s+AS\s+\?count\s*\)\s*WHERE\s*\{\s*GRAPH\s*<([^>]+)>\s*\{\s*\?s\s+\?p\s+\?o\s*\}\s*\}\s*""".r
  private val SelectRe =
    """(?is)\s*SELECT\s+\*\s*(?:WHERE\s*)?\{\s*\?s\s+\?p\s+\?o\s*\}\s*LIMIT\s+(\d+)\s*""".r

  /**
   * The reference's query surface is SPARQL text POSTed to the server; the
   * three shapes it actually issues (SURVEY O9–O11: ASK, COUNT(*), and
   * `SELECT * {?s ?p ?o} LIMIT n`) are recognized and answered from the
   * catalog. Anything else is out of the reference's observable scope.
   */
  def query(sparql: String, graphIri: String): Any = sparql match {
    case AskRe(iri) => catalog.ask(iri)
    case CountRe(iri) => catalog.count(iri)
    case SelectRe(n) =>
      catalog.selectLimit(graft.catalog.GraphCatalog.resolveGraphIri(graphIri), n.toInt)
        .collect().map(r => Map("s" -> r.getString(0), "p" -> r.getString(1), "o" -> r.getString(2)))
        .toSeq
    case _ => throw new IllegalArgumentException(
      s"Unsupported SPARQL shape (reference surface is ASK/COUNT/SELECT-LIMIT): $sparql")
  }
}

/** The validating stub the reference ships for its SPARQL-server systems:
  * the constructor checks its arguments, and write validates the graph IRI
  * then raises NotImplemented. */
sealed abstract class ServerStub(val name: String, location: String, repoId: String)
    extends PersistenceSystem {
  if (location == null || !location.startsWith("http"))
    throw new IllegalArgumentException(
      s"The value you supplied for location ($location) is not valid")
  if (repoId == null)
    throw new IllegalArgumentException("The value you supplied for repo_id cannot be None")
  def write(g: ParsedGraph, graphIri: String): Nothing = {
    if (graphIri != null && !(graphIri.startsWith("http") || graphIri.startsWith("urn")))
      throw new IllegalArgumentException(
        s"The value you supplied for graph_iri ($graphIri) is not valid")
    throw new NotImplementedError(s"$name write is unimplemented in the reference (v0.4.11)")
  }
}

/** S4 GraphDB — the reference ships a validating stub whose write raises
  * NotImplemented (persistence_systems.py:312-356); same here. */
final class GraphDbStore(location: String, repoId: String,
                         username: String = null, password: String = null)
    extends ServerStub("GraphDB", location, repoId)

/** S5 Fuseki — identical stub shape (persistence_systems.py:359-399). */
final class FusekiStore(location: String, repoId: String,
                        username: String = null, password: String = null)
    extends ServerStub("Fuseki", location, repoId)

/** `PERSISTENCE_SYSTEMS` registry parity (persistence_systems.py:888). */
object PersistenceSystems {
  val names: Set[String] = Set("String", "File", "SOP", "GraphDB", "Fuseki", "S3")
}
