package graft.rdf

import graft.model._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/**
 * Graph I/O façade: parse/serialize dispatch, leading-comment handling, and
 * the String/File persistence surfaces of the reference
 * (/root/reference/rdfx/persistence_systems.py:86-213). S3/HDFS go through
 * the same writer via Hadoop FileSystem paths in the distributed layer
 * (graft.rdf.DistributedRdf) — no separate code path, mirroring SURVEY §2.2.
 */
object RdfIo {

  // ------------------------------------------------------------ dispatch

  def parse(doc: String, format: RdfFormat): ParsedGraph = format match {
    case RdfFormat.NTriples => NtCodec.parse(doc)
    case RdfFormat.Turtle | RdfFormat.N3 => TurtleCodec.parse(doc)
    case RdfFormat.JsonLd => JsonLdCodec.parse(doc)
    case RdfFormat.RdfXml => RdfXmlCodec.parse(doc)
  }

  def serialize(g: ParsedGraph, format: RdfFormat): String = format match {
    case RdfFormat.NTriples => NtCodec.serialize(g)
    // rdflib's n3 serializer is a Turtle subclass; output is Turtle-shaped
    case RdfFormat.Turtle | RdfFormat.N3 => TurtleCodec.serialize(g)
    case RdfFormat.JsonLd => JsonLdCodec.serialize(g)
    case RdfFormat.RdfXml => RdfXmlCodec.serialize(g)
  }

  // ------------------------------------------------- leading comments

  /**
   * Validates leading comments: Turtle-only, must not already start with '#'
   * (persistence_systems.py:66-76).
   */
  def validateComments(comments: Seq[String], formatToken: String): Unit = {
    if (comments.nonEmpty && RdfFormat.fromToken(formatToken) != RdfFormat.Turtle)
      throw new IllegalArgumentException(
        "Leading comments can only be provided for Turtle format")
    comments.foreach { c =>
      if (c.startsWith("#"))
        throw new IllegalArgumentException(
          s"Leading comments cannot start with '#': $c")
    }
  }

  /**
   * `generate_string` equivalent (persistence_systems.py:86-98): optional
   * `# comment` header + one blank line + serialized body. Format validation
   * happens inside serialize (the reference's eager validator is commented
   * out; unknown tokens still throw — at dispatch here, at plugin lookup
   * there).
   */
  def generateString(g: ParsedGraph, formatToken: String,
                     leadingComments: Seq[String] = Nil): String = {
    val fmt = RdfFormat.fromToken(formatToken)
    if (leadingComments.isEmpty) serialize(g, fmt)
    else {
      validateComments(leadingComments, formatToken)
      leadingComments.map(c => s"# $c\n").mkString + "\n" + serialize(g, fmt)
    }
  }

  /**
   * Scrape contiguous leading `# `-comment lines from a Turtle document,
   * returning (comments, remainder-is-ignored) — the read-path counterpart
   * (persistence_systems.py:126-136). Comments come back stripped of "# ".
   */
  def scrapeComments(doc: String): (Seq[String], String) = {
    val lines = doc.split("\n", -1)
    val comments = ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length && lines(i).startsWith("#")) {
      comments += lines(i).stripPrefix("#").stripPrefix(" ")
      i += 1
    }
    (comments.toSeq, lines.drop(i).mkString("\n"))
  }

  // ------------------------------------------------------ String system (S1)

  /** String persistence read: (leading comments, graph). */
  def readString(doc: String, formatToken: String): (Seq[String], ParsedGraph) = {
    val fmt = RdfFormat.fromToken(formatToken)
    if (fmt == RdfFormat.Turtle || fmt == RdfFormat.N3) {
      val (comments, _) = scrapeComments(doc)
      (comments, parse(doc, fmt)) // Turtle parser skips comments natively
    } else (Nil, parse(doc, fmt))
  }

  // ------------------------------------------- File/S3/HDFS systems (S2, S3)
  //
  // All driver-side file IO goes through org.apache.hadoop.fs.FileSystem, so
  // every URI scheme Hadoop supports (file://, s3a://, hdfs://, bare local
  // paths) works through ONE code path — the reference's File and S3
  // persistence systems (persistence_systems.py:147-309) collapse into it.
  // The java.nio.Path overloads below delegate here (test/back-compat seam).

  private def hPath(uri: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(uri)

  /**
   * Hadoop configuration for driver-side IO: the ACTIVE SparkSession's
   * `sparkContext.hadoopConfiguration` when one exists (it carries every
   * `spark.hadoop.*` setting — s3a credentials/endpoints, HDFS
   * nameservices; a bare `new Configuration()` silently drops them and
   * breaks the advertised s3a://hdfs:// parity for Spark-configured
   * sessions), falling back to a plain Configuration for session-less
   * library use (the pure-codec CLI paths).
   */
  def hadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsFor(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(hadoopConf())

  private def readBytes(uri: String): Array[Byte] = {
    val p = hPath(uri)
    val fs = fsFor(p)
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** File/S3/HDFS read by URI: infer format from extension, scrape comments when Turtle. */
  def readFile(uri: String): (Seq[String], ParsedGraph) = {
    val doc = new String(readBytes(uri), StandardCharsets.UTF_8)
    val fmt = RdfFormat.inferFromPath(uri)
    readString(doc, fmt.token)
  }

  def readFile(path: Path): (Seq[String], ParsedGraph) = readFile(path.toString)

  /**
   * File write: `{dir}/{filename}.{ext}`, normalizing the serializer tail so
   * the file ends with at most one blank line — the observable contract of
   * the reference's trim (persistence_systems.py:207-209) reconciled with its
   * golden file bytes (tests/test_convert.py:39-53 pins the on-disk Turtle to
   * end ".\n\n"; the two are mutually inconsistent upstream, the frozen test
   * strings win here). `dirUri` may be any Hadoop-supported URI; the S3
   * persistence system's put_object path (persistence_systems.py:283-305) is
   * this same writer with an `s3a://` directory.
   */
  def writeFile(g: ParsedGraph, dirUri: String, filename: String, formatToken: String,
                leadingComments: Seq[String]): String = {
    val ext = RdfFormat.outputFileEndings.getOrElse(formatToken, formatToken)
    val dir = hPath(dirUri)
    val fs = fsFor(dir)
    fs.mkdirs(dir)
    val out = new org.apache.hadoop.fs.Path(dir, s"$filename.$ext")
    val s = normalizeTail(generateString(g, formatToken, leadingComments))
    val os = fs.create(out, true)
    try os.write(s.getBytes(StandardCharsets.UTF_8)) finally os.close()
    out.toString
  }

  def writeFile(g: ParsedGraph, dir: Path, filename: String, formatToken: String,
                leadingComments: Seq[String] = Nil): Path =
    Paths.get(writeFile(g, dir.toString, filename, formatToken, leadingComments))

  /** Existence check (S2/S3 `exists` = path-exists / head_object). */
  def fileExists(uri: String): Boolean = {
    val p = hPath(uri)
    fsFor(p).exists(p)
  }

  def fileExists(path: Path): Boolean = fileExists(path.toString)

  /** Serializer-tail normalization shared by every file writer: the file
    * ends with at most one blank line (see writeFile Scaladoc). */
  def normalizeTail(doc: String): String = {
    var s = doc
    while (s.endsWith("\n\n\n")) s = s.dropRight(1)
    s
  }

  /** Delete by URI (used by `clean`'s rewrite-in-place). */
  def deleteFile(uri: String): Boolean = {
    val p = hPath(uri)
    fsFor(p).delete(p, false)
  }

  // ------------------------------------------------------- file-list expansion

  /**
   * `prepare_files_list` (persistence_systems.py:868-885): file/dir URI →
   * flat list; directories globbed per RDF suffix, iterating suffix keys in
   * the reference's pinned dict order (fixture:
   * test_persistence_systems_generic_methods.py:118-135).
   */
  def prepareFilesListUri(uri: String): Seq[String] = {
    val p = hPath(uri)
    val fs = fsFor(p)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"No such file or directory: $uri")
    if (fs.getFileStatus(p).isDirectory) {
      val entries = fs.listStatus(p).toVector.filter(_.isFile).map(_.getPath)
      RdfFormat.fileEndings.flatMap { case (suffix, _) =>
        entries.filter(_.getName.endsWith("." + suffix)).sortBy(_.getName)
      }.map(_.toString)
    } else Seq(uri)
  }

  def prepareFilesList(path: Path): Seq[Path] =
    // listStatus returns scheme-qualified URIs (file:/...); strip to a
    // filesystem path for the java.nio seam
    prepareFilesListUri(path.toString)
      .map(s => Paths.get(new org.apache.hadoop.fs.Path(s).toUri.getPath))
}
