package graft.rdf

import java.nio.file.{Path, Paths}

/**
 * Driver-level graph operations mirroring the reference CLI surface
 * (/root/reference/rdfx/rdfx_cli.py): convert, merge, clean. These are the
 * small-file entry points; the distributed equivalents over Dataset[TripleRow]
 * live in graft.rdf.DistributedRdf (convert/merge at parquet scale).
 *
 * All paths are Hadoop-FileSystem URIs (file://, s3a://, hdfs://, bare local
 * paths) — the reference's File and S3 persistence systems
 * (persistence_systems.py:147-309) share this one code path. java.nio.Path
 * overloads remain as a local-filesystem convenience seam.
 */
object GraphOps {

  private def baseName(uri: String): String =
    new org.apache.hadoop.fs.Path(uri).getName

  private def stemOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot > 0) name.substring(0, dot) else name
  }

  /**
   * convert (rdfx_cli.py:61-71): parse input (format inferred), serialize to
   * the target format. Output filename defaults to the input stem. Unlike the
   * reference — which silently writes next to the input, ignoring the output
   * dir (rdfx_cli.py:69-71, a documented quirk) — this honors `outputDir`.
   */
  def convert(inputUri: String, outputDirUri: String, outputFormatToken: String,
              outputFilename: Option[String],
              leadingComments: Seq[String]): String = {
    val (_, g) = RdfIo.readFile(inputUri)
    RdfIo.writeFile(g, outputDirUri, outputFilename.getOrElse(stemOf(baseName(inputUri))),
      outputFormatToken, leadingComments)
  }

  def convert(inputFile: Path, outputDir: Path, outputFormatToken: String,
              outputFilename: Option[String] = None,
              leadingComments: Seq[String] = Nil): Path =
    Paths.get(convert(inputFile.toString, outputDir.toString, outputFormatToken,
      outputFilename, leadingComments))

  /**
   * merge (rdfx_cli.py:74-94): parse N files into one graph — set-union, so
   * duplicate triples across files collapse; blank-node labels are kept
   * file-scoped by salting with a per-file ordinal (rdflib parses each file
   * with fresh bnode ids — same observable behavior). Default output name
   * "merged" (rdfx_cli.py:199-202).
   */
  def mergeUris(fileUris: Seq[String], outputDirUri: String, outputFormatToken: String,
                outputFilename: String = "merged",
                leadingComments: Seq[String] = Nil): String = {
    fileUris.foreach { f =>
      val name = baseName(f)
      val suffix = name.substring(name.lastIndexOf('.') + 1)
      if (!RdfFormat.fileEndings.exists(_._1 == suffix))
        throw new IllegalArgumentException(
          s"Files to be merged must end with a known RDF file extension, got: $name")
    }
    val merged = fileUris.zipWithIndex.map { case (f, i) =>
      val (_, g) = RdfIo.readFile(f)
      ParsedGraph(g.triples.map(DistributedRdf.saltBnodes(_, s"f$i")), g.prefixes)
    }.foldLeft(ParsedGraph.empty)(_ union _)
    RdfIo.writeFile(merged, outputDirUri, outputFilename, outputFormatToken, leadingComments)
  }

  def merge(files: Seq[Path], outputDir: Path, outputFormatToken: String,
            outputFilename: String = "merged",
            leadingComments: Seq[String] = Nil): Path =
    Paths.get(mergeUris(files.map(_.toString), outputDir.toString, outputFormatToken,
      outputFilename, leadingComments))

  /**
   * clean (rdfx_cli.py:106-152): preserve leading comments, prune prefix
   * bindings to those whose namespace IRI occurs in any term, sort bindings
   * by prefix, re-serialize as Turtle in place.
   *
   * The reference has a bug here — it re-serializes the ORIGINAL graph, so
   * pruning/sorting is unobservable in v0.4.11 (rdfx_cli.py:150-152). The
   * intended semantics are implemented here (and are observable: unused
   * @prefix bindings disappear); `replicateReferenceBug = true` reproduces
   * the v0.4.11 behavior for strict parity runs.
   */
  def clean(inputUri: String, replicateReferenceBug: Boolean): String = {
    val (comments, g) = RdfIo.readFile(inputUri)
    val cleaned =
      if (replicateReferenceBug) g
      else {
        val used = g.prefixes.filter { case (_, ns) =>
          g.triples.exists(t =>
            Seq(t.s, t.p, t.o).exists(term => !term.isLiteral && term.value.contains(ns)) ||
              (t.o.isLiteral && t.o.dtype != null && t.o.dtype.contains(ns)))
        }
        ParsedGraph(g.triples, used)
      }
    val hp = new org.apache.hadoop.fs.Path(inputUri)
    val dir = Option(hp.getParent).map(_.toString).getOrElse(".")
    RdfIo.deleteFile(inputUri)
    RdfIo.writeFile(cleaned, dir, stemOf(hp.getName), "turtle", comments)
  }

  def clean(inputFile: Path, replicateReferenceBug: Boolean = false): Path =
    Paths.get(clean(inputFile.toString, replicateReferenceBug))
}
