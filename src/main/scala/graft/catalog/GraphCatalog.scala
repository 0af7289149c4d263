package graft.catalog

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/**
 * Catalog of named graphs = one partitioned triple table keyed by
 * `graph_iri`, plus an atomic snapshot log — the Spark mapping of the
 * reference's SOP/EDG named-graph surface (SURVEY S6:
 * /root/reference/rdfx/persistence_systems.py:453-784 — read/write by graph
 * IRI, COUNT, ASK, SELECT-LIMIT).
 *
 * Table-format abstraction (SURVEY §7 "No Iceberg jar in sandbox"): the
 * public API is snapshot-id-based commits with exactly-once semantics; this
 * [[ParquetSnapshotCatalog]] implementation backs it with partitioned
 * Parquet + a JSON snapshot manifest committed by atomic rename. On a
 * cluster with an Iceberg runtime, an `IcebergCatalog` implements the same
 * trait via `DataFrameWriterV2.writeTo(...).partitionedBy(...)` — config,
 * not code, changes.
 *
 * Scale notes:
 *  - `graph_iri` is the physical partition column → reads of one graph are
 *    partition-pruned scans (no full-table IO), the direct analogue of the
 *    SOP server resolving a graph URN.
 *  - `ask` uses LIMIT 1 (LocalLimit short-circuit), never a full count.
 *  - snapshot commit = write to `.tmp-<id>` dir + atomic manifest rename;
 *    a resumed job sees either the old or the new snapshot, never half.
 */
trait GraphCatalog {
  def write(graphIri: String, triples: DataFrame, overwrite: Boolean = true,
            leadingComments: Seq[String] = Nil): Long
  def read(graphIri: String): (Seq[String], DataFrame)
  /** Rewrite the graph's live file sets into one (the Iceberg
    * `rewrite_data_files` analogue for long delta-append chains): commits
    * the current content as a fresh single-file-set snapshot. Time travel
    * to earlier snapshots is unaffected (their file sets are immutable).
    * Returns the new snapshot id. */
  def compact(graphIri: String): Long
  /** Iceberg-style `expire_snapshots`: drop all but the newest `keepLast`
    * snapshots of a graph and physically delete every data file set no
    * retained snapshot references (delta-append chains share file sets, so
    * the keep set is the UNION of retained snapshots' paths). Orphaned
    * uncommitted `v<id>` dirs (a writer died between its parquet write and
    * its manifest rename) are reclaimed by the same pass. Time travel to
    * retained ids is unaffected; reading an expired id errors. Returns the
    * expired snapshot ids. */
  def expireSnapshots(graphIri: String, keepLast: Int): Seq[Long]
  /** Iceberg-style time travel: read a specific committed snapshot. */
  def readAt(graphIri: String, snapshotId: Long): (Seq[String], DataFrame)
  /** Changelog between two committed snapshots (the Iceberg CDC /
    * `changelog` read an incremental consumer wants instead of re-diffing
    * full snapshots itself): the `to` rows absent at `from` marked
    * `insert`, the `from` rows gone at `to` marked `delete`, as one frame
    * with a `change` column. Same ids diff to empty; unknown ids error. */
  def diff(graphIri: String, fromId: Long, toId: Long): DataFrame
  /** Committed snapshot ids for a graph, ascending. */
  def snapshots(graphIri: String): Seq[Long]
  def exists(graphIri: String): Boolean
  def ask(graphIri: String): Boolean
  def count(graphIri: String): Long
  def selectLimit(graphIri: String, n: Int): DataFrame
  def graphs(): Seq[String]
}

/**
 * SOP/EDG workflow-URN surface (reference parity:
 * /root/reference/rdfx/persistence_systems.py:760-784, 844-865). A workflow
 * graph `urn:x-evn-tag:<datagraph>:<workflow>:<user>` addresses a change-set
 * layered over the master graph `urn:x-evn-master:<datagraph>`; existence
 * checks on a workflow URN delegate to its master graph.
 */
object GraphCatalog {
  private val WorkflowPrefix = "urn:x-evn-tag"

  private val nonceCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Deterministic host-unique component: hostname hash. Pids repeat across
    * hosts and JVM start times collide mod the 24-bit mask (~4.6 h), so two
    * driver JVMs on DIFFERENT machines sharing a catalog could otherwise
    * co-write the same `v<id>-<nonce>` staging dir — defeating the
    * writer-unique-dir guarantee the commit protocol relies on. */
  private lazy val hostTag: String = {
    val name =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "localhost" }
    java.lang.Integer.toHexString(
      java.util.Arrays.hashCode(name.getBytes(StandardCharsets.UTF_8)))
  }

  /** Writer-unique staging-dir suffix WITHOUT randomness: hostname hash +
    * pid + JVM start time + in-process counter — distinct across concurrent
    * committers on the same host AND across hosts. */
  private[catalog] def nextNonce(): String = {
    val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    hostTag + "x" +
      java.lang.Long.toHexString(ProcessHandle.current().pid()) + "x" +
      java.lang.Long.toHexString(start & 0xffffffL) + "x" +
      java.lang.Long.toHexString(nonceCounter.incrementAndGet())
  }

  def isWorkflowUrn(graphIri: String): Boolean = graphIri.startsWith(WorkflowPrefix)

  /** `urn:x-evn-tag:dg:wf:user` -> `urn:x-evn-master:dg` (persistence_systems.py:844-855). */
  def graphFromWorkflow(workflowGraph: String): String = {
    if (!isWorkflowUrn(workflowGraph))
      throw new IllegalArgumentException(
        "The workflow graph passed does not start with 'x-evn-tag' - it does not look like a SOP Workflow")
    val parts = workflowGraph.split(":", -1).toVector
    (parts.updated(1, "x-evn-master").take(3)).mkString(":")
  }

  /** `urn:x-evn-tag:dg:wf:user` -> `urn:x-tags:wf` (persistence_systems.py:857-865). */
  def tagFromWorkflow(workflowGraph: String): String = {
    if (!isWorkflowUrn(workflowGraph))
      throw new IllegalArgumentException(
        "The workflow graph passed does not start with 'x-evn-tag' - it does not look like a SOP Workflow")
    "urn:x-tags:" + workflowGraph.split(":", -1)(3)
  }

  /** Workflow URNs resolve to their master graph for storage addressing. */
  def resolveGraphIri(graphIri: String): String =
    if (isWorkflowUrn(graphIri)) graphFromWorkflow(graphIri) else graphIri
}

/**
 * All catalog metadata IO goes through `org.apache.hadoop.fs.FileSystem`
 * with the session's Hadoop configuration, so the catalog root may be ANY
 * Hadoop-supported URI — `file://`, `hdfs://`, `s3a://` — the same
 * one-code-path contract as the rest of the repo's IO. Commit protocol is
 * rename-based: atomic on HDFS and local filesystems; on S3 a rename is
 * copy+delete (not atomic), so an S3-rooted catalog gets
 * read-committed-or-previous but not concurrent-writer safety — the same
 * caveat as Hadoop output committers there; production object-store
 * deployments put the (tiny) snapshot log on a filesystem with atomic
 * rename or swap in an `IcebergCatalog`.
 *
 * Layout: manifests live in PER-GRAPH subdirectories
 * (`_snapshots/<enc(iri)>/<id>.json`), so resolving one graph lists only
 * that graph's snapshots — a million-graph catalog never lists one flat
 * directory. Snapshot ids are parsed and compared NUMERICALLY (names are
 * zero-padded for human-friendly lexicographic ordering, but nothing
 * depends on the padding width).
 */
final class ParquetSnapshotCatalog(spark: SparkSession, root: String) extends GraphCatalog {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}

  private def conf = spark.sparkContext.hadoopConfiguration
  private val rootPath = new HPath(root)
  private val dataDir = new HPath(rootPath, "data")
  private val snapDir = new HPath(rootPath, "_snapshots")
  private def fs: FileSystem = rootPath.getFileSystem(conf)
  checkAtomicRename()
  fs.mkdirs(dataDir)
  fs.mkdirs(snapDir)
  migrateLegacyFlatManifests()

  /**
   * The commit protocol's single CAS point is `fs.rename(tmp, <id>.json)`
   * failing when the destination exists. That contract holds on HDFS and
   * local filesystems but NOT on object stores: S3A `rename` is a
   * non-atomic exists-check-then-copy, so two racing committers can both
   * believe they won, one manifest silently replaces the other, and the
   * loser's data dir is later reclaimed by `reclaimOrphans`/
   * `expireSnapshots` — a DURABLE lost commit, not just a race. This is
   * exactly why Iceberg refuses rename-based commits on S3 and requires a
   * lock-manager or conditional-put catalog there. We therefore REJECT
   * object-store roots at construction unless the caller explicitly opts
   * in (single-writer deployments are safe: with no concurrent committer
   * the rename still publishes complete-or-absent manifests) via
   * `spark.conf.set("graft.catalog.allowNonAtomicRename", "true")`.
   */
  private def checkAtomicRename(): Unit = {
    val nonAtomicRenameSchemes =
      Set("s3", "s3a", "s3n", "gs", "oss", "wasb", "wasbs", "abfs", "abfss", "cosn", "swift")
    // scheme from the URI, not from an instantiated FileSystem: the gate
    // must fire before any object-store IO (or classloading) happens
    val scheme = Option(rootPath.toUri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(conf).getScheme))
      .getOrElse("file").toLowerCase
    if (nonAtomicRenameSchemes.contains(scheme) &&
        !spark.conf.get("graft.catalog.allowNonAtomicRename", "false").toBoolean)
      throw new IllegalArgumentException(
        s"catalog root $root uses scheme '$scheme', whose rename is not an atomic " +
          "no-overwrite operation — concurrent snapshot commits there can silently " +
          "lose a committed snapshot (the reason Iceberg refuses rename-based commits " +
          "on S3). Root the (tiny) catalog on a filesystem with atomic rename " +
          "(hdfs://, file://), swap in an Iceberg catalog, or — for SINGLE-writer " +
          "deployments only — opt in with " +
          "spark.conf.set(\"graft.catalog.allowNonAtomicRename\", \"true\")")
  }

  /**
   * Layout migration: older catalogs committed manifests FLAT under
   * `_snapshots/<enc(iri)>.<id>.json`. Opening such a root with the
   * per-graph layout would silently see an empty catalog, restart snapshot
   * ids at 1, and the next write's SaveMode.Overwrite would destroy
   * `data/<enc>/v1` — silent history loss. On construction, any flat
   * manifest is renamed into its graph's subdirectory (idempotent; a
   * crashed migration resumes on next open). Encoded IRIs cannot contain
   * `/` and the trailing `.<digits>.json` is unambiguous because a
   * URL-encoded id fragment never ends in an unencoded dot-digits run that
   * our own writer produced — flat names were written exclusively as
   * `<enc>.<zero-padded id>.json`.
   */
  private def migrateLegacyFlatManifests(): Unit = {
    val flat = java.util.regex.Pattern.compile("(.+)\\.(\\d+)\\.json")
    fs.listStatus(snapDir).foreach { st =>
      val m = flat.matcher(st.getPath.getName)
      if (st.isFile && m.matches()) {
        val dir = new HPath(snapDir, m.group(1))
        fs.mkdirs(dir)
        val dest = new HPath(dir, f"${m.group(2).toLong}%09d.json")
        // two processes opening the same root race this migration: the
        // loser's rename fails because the winner already moved the file —
        // that is success (destination committed), not an error
        if (!fs.rename(st.getPath, dest) && !(fs.exists(dest) && !fs.exists(st.getPath)))
          throw new java.io.IOException(
            s"legacy snapshot-layout migration failed: could not move ${st.getPath} to $dest; " +
              "migrate _snapshots/<graph>.<id>.json files into _snapshots/<graph>/<id>.json manually")
      }
    }
  }

  private def enc(iri: String): String =
    java.net.URLEncoder.encode(iri, "UTF-8")

  private def graphDataDir(iri: String): HPath = new HPath(dataDir, enc(iri))
  private def graphSnapDir(iri: String): HPath = new HPath(snapDir, enc(iri))

  private val ManifestName = java.util.regex.Pattern.compile("(\\d+)\\.json")

  /** Committed (id, manifest) pairs for a graph, ascending by NUMERIC id. */
  private def snapshotManifests(iri: String): Vector[(Long, HPath)] = {
    val dir = graphSnapDir(iri)
    if (!fs.exists(dir)) Vector.empty
    else fs.listStatus(dir).toVector.flatMap { st =>
      val m = ManifestName.matcher(st.getPath.getName)
      if (st.isFile && m.matches()) Some(m.group(1).toLong -> st.getPath) else None
    }.sortBy(_._1)
  }

  private def latestSnapshot(iri: String): Option[(Long, HPath)] =
    snapshotManifests(iri).lastOption

  private def readManifestJson(p: HPath): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
  }

  /** The full triple identity — set semantics are over every column. */
  private val TripleKey = Seq("s", "s_kind", "p", "o", "o_kind", "o_dtype", "o_lang")

  /**
   * Commit: write parquet to a versioned dir, then atomically publish the
   * manifest (write-temp + rename; see class Scaladoc for the S3 caveat).
   * Returns the snapshot id. Exactly-once: if the job dies before the
   * rename, the partial dir is invisible (no manifest names it) and a
   * rerun re-commits the next id.
   *
   * Every commit deduplicates the incoming rows on [[TripleKey]], so a
   * snapshot is a triple SET whatever the caller hands in (a provenance
   * bag, a first streaming batch).
   *
   * Append is a DELTA commit (the Iceberg append semantic): the incoming
   * rows are deduplicated, anti-joined against the current snapshot
   * (null-safe on every column — `o_dtype`/`o_lang` are nullable and an
   * EqualTo anti-join would re-admit null-keyed duplicates), and ONLY the
   * genuinely-new rows are written as an additional file set; the new
   * manifest lists the previous snapshot's file sets plus the delta dir,
   * and reads union the listed paths. At 100 TB a small daily delta costs
   * one delta-sized write plus an anti-join probe of the current snapshot
   * — never a full-graph dedup shuffle or rewrite (the round-3 S7
   * weakness). Previously committed file sets are immutable, which also
   * keeps time travel free. Long append chains accumulate file sets;
   * an occasional `overwrite = true` commit of `read(...)` is the
   * compaction, exactly as Iceberg `rewrite_data_files` is.
   */
  /**
   * Concurrent writers: the manifest rename is the single CAS point — the
   * first `<id>.json` to land wins that id. Each attempt stages its data in
   * a WRITER-UNIQUE dir (`v<id>-<nonce>`, the same discipline as Iceberg's
   * UUID data-file names), so racing committers never co-write a path; the
   * loser deletes its own unreferenced staging dir and retries against the
   * freshly-committed snapshot (an append recomputes its delta there —
   * anti-joining against a stale snapshot would re-admit the winner's
   * rows). Bounded retries; on exhaustion the error names the graph.
   */
  def write(graphIri: String, triples: DataFrame, overwrite: Boolean = true,
            leadingComments: Seq[String] = Nil): Long = {
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    var attempt = 0
    while (attempt < 5) {
      writeAttempt(resolved, triples, overwrite, leadingComments) match {
        case Some(id) => return id
        case None => attempt += 1
      }
    }
    throw new java.io.IOException(
      s"snapshot commit for graph $resolved lost the manifest race 5 times — " +
        "a concurrent writer is committing continuously; retry later")
  }

  /** True iff the failure chain contains a missing-file/dir error — the
    * signature of a concurrent `compact()`/`expireSnapshots()` reclaim pass
    * deleting a LAGGING appender's live staging dir (two commits landed
    * after it read `latestSnapshot`, so its target id dropped below the new
    * latest and the reclaim's id bound no longer protected it). The
    * committed state is safe either way (the stale manifest rename would
    * lose the CAS), so this is a retryable race, not corruption. */
  private[catalog] def causedByMissingPath(t: Throwable): Boolean = {
    var cur: Throwable = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[java.io.FileNotFoundException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  private def writeAttempt(resolved: String, triples: DataFrame, overwrite: Boolean,
                           leadingComments: Seq[String]): Option[Long] =
    try writeAttemptStaged(resolved, triples, overwrite, leadingComments)
    catch {
      case e: Exception if causedByMissingPath(e) => None // lost reclaim race → re-stage
    }

  private def writeAttemptStaged(resolved: String, triples: DataFrame, overwrite: Boolean,
                                 leadingComments: Seq[String]): Option[Long] = {
    val prev = latestSnapshot(resolved)
    val id = prev.map(_._1).getOrElse(0L) + 1
    val target = new HPath(graphDataDir(resolved), s"v$id-${GraphCatalog.nextNonce()}")
    val prevPaths = if (overwrite) None else prev.map(p => manifestPaths(p._2))
    val prevDf = prevPaths.map(ps => spark.read.parquet(ps: _*))
    val ordered = prevDf.fold(triples) { p =>
      // a silent select() here would DROP extra incoming columns (and
      // surface a missing one as a generic AnalysisException) — fail
      // loudly, naming the mismatch, before any data moves
      val incoming = triples.columns.toSet
      val expected = p.columns.toSet
      if (incoming != expected)
        throw new IllegalArgumentException(
          s"append to graph $resolved: column mismatch vs current snapshot — " +
            s"missing ${(expected -- incoming).toSeq.sorted.mkString("[", ",", "]")}, " +
            s"unexpected ${(incoming -- expected).toSeq.sorted.mkString("[", ",", "]")}")
      triples.select(p.columns.map(col).toIndexedSeq: _*)
    }
    // set semantics for every commit: a graph snapshot never holds a
    // duplicate triple, whether it is a first write, an overwrite or a delta
    val rows = ordered.dropDuplicates(TripleKey)
    val written = prevDf.fold(rows) { p =>
      rows.alias("d").join(p.alias("prev"),
        TripleKey.map(k => col(s"d.$k") <=> col(s"prev.$k")).reduce(_ && _),
        "left_anti")
    }
    written.write.mode(SaveMode.Overwrite).parquet(target.toString)
    val paths = prevPaths.getOrElse(Nil) :+ target.toString
    val manifest =
      s"""{"graph_iri": ${jstr(resolved)}, "snapshot_id": "$id", "paths": ${jarr(paths)},
         | "leading_comments": ${jarr(leadingComments)}}""".stripMargin
    val dir = graphSnapDir(resolved)
    fs.mkdirs(dir)
    val tmp = new HPath(dir, s".tmp-${target.getName}")
    val os = fs.create(tmp, true)
    try os.write(manifest.getBytes(StandardCharsets.UTF_8)) finally os.close()
    if (fs.rename(tmp, new HPath(dir, f"$id%09d.json"))) Some(id)
    else {
      // a concurrent writer committed this id first: nothing references our
      // staging dir (unique name), so reclaim it and signal a retry
      fs.delete(tmp, false)
      fs.delete(target, true)
      None
    }
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def jarr(xs: Seq[String]): String = xs.map(jstr).mkString("[", ",", "]")

  /** Compaction = an overwrite commit of the current content: the new
    * snapshot's single file set is written BEFORE its manifest is
    * published, so readers of the current snapshot (the union of the old
    * file sets, all immutable) are never disturbed mid-rewrite. */
  def compact(graphIri: String): Long = {
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    val (comments, df) = read(resolved)
    val id = write(resolved, df, overwrite = true, leadingComments = comments)
    reclaimOrphans(resolved)
    id
  }

  /**
   * Delete `v<id>` data dirs that no committed manifest references — the
   * debris of writers that died between their parquet write and their
   * manifest rename. Safety against a LIVE in-flight writer: only dirs with
   * id < the latest committed id are touched. An in-flight writer always
   * targets id = (latest it observed) + 1 ≥ current latest + 1 unless it is
   * stale — and a stale writer's manifest rename will fail anyway (its
   * `<id>.json` destination already exists), so reclaiming its dir cannot
   * create a manifest that names deleted data.
   */
  private def reclaimOrphans(resolved: String): Unit = {
    val manifests = snapshotManifests(resolved)
    if (manifests.isEmpty) return
    deleteUnreferencedDirs(resolved,
      belowId = manifests.last._1,
      keep = manifests.flatMap { case (_, p) => manifestPaths(p) }
        .map(s => new HPath(s).getName).toSet)
  }

  /** Delete `v<id>[-nonce]` dirs with id < `belowId` whose name is not in
    * `keep` — shared by orphan reclamation and snapshot expiry. The id
    * bound protects a LIVE writer (it always stages at id ≥ latest + 1). */
  private def deleteUnreferencedDirs(resolved: String, belowId: Long,
                                     keep: Set[String]): Unit = {
    val gdir = graphDataDir(resolved)
    if (!fs.exists(gdir)) return
    val vdir = java.util.regex.Pattern.compile("v(\\d+)(-.+)?")
    fs.listStatus(gdir).foreach { st =>
      val m = vdir.matcher(st.getPath.getName)
      if (st.isDirectory && m.matches() && m.group(1).toLong < belowId &&
          !keep.contains(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
  }

  def expireSnapshots(graphIri: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1 (got $keepLast)")
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    val manifests = snapshotManifests(resolved)
    if (manifests.isEmpty)
      throw new IllegalArgumentException(s"No such graph: $resolved")
    val (expired, retained) = manifests.splitAt((manifests.size - keepLast).max(0))
    // keep = union over RETAINED snapshots (delta chains share file sets;
    // an old file set referenced by a retained snapshot must survive)
    val keepDirs = retained.flatMap { case (_, p) => manifestPaths(p) }
      .map(s => new HPath(s).getName).toSet
    // drop the expired manifests FIRST: a reader that races this pass sees
    // either a still-complete snapshot or "no such snapshot", never a
    // manifest whose files are gone
    expired.foreach { case (_, p) => fs.delete(p, false) }
    deleteUnreferencedDirs(resolved, belowId = retained.last._1, keep = keepDirs)
    expired.map(_._1)
  }

  /** Workflow URNs resolve to their master graph THROUGHOUT the surface
    * (read/readAt/snapshots/exists/ask/count/selectLimit) — the reference
    * reads a workflow's content via its datagraph
    * (test_persistence_system_local_sop.py:81-87: write through the
    * workflow URN, read 6 master triples back), and resolving only in
    * `exists` would make `ask` pass its exists() guard then crash in read. */
  def read(graphIri: String): (Seq[String], DataFrame) = {
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    val manifest = latestSnapshot(resolved).getOrElse(
      throw new IllegalArgumentException(s"No such graph: $resolved"))._2
    readManifest(manifest)
  }

  /** Live file sets of a snapshot: `paths` (delta-append layout), with
    * `path` accepted for manifests committed before the multi-path format. */
  private def manifestPaths(manifest: HPath): Seq[String] =
    pathsOf(readManifestJson(manifest))

  private def pathsOf(m: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    if (m.has("paths")) m.get("paths").elements().asScala.map(_.asText()).toSeq
    else Seq(m.get("path").asText())

  private def readManifest(manifest: HPath): (Seq[String], DataFrame) = {
    val m = readManifestJson(manifest)
    val comments =
      if (m.has("leading_comments"))
        m.get("leading_comments").elements().asScala.map(_.asText()).toSeq
      else Nil
    (comments, spark.read.parquet(pathsOf(m): _*))
  }

  /** Time travel: every snapshot's data dir and manifest are immutable
    * once committed, so any historical snapshot id reads consistently —
    * the Iceberg semantic the ParquetSnapshotFormat stands in for. */
  def readAt(graphIri: String, snapshotId: Long): (Seq[String], DataFrame) = {
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    snapshotManifests(resolved).find(_._1 == snapshotId) match {
      case Some((_, p)) => readManifest(p)
      case None =>
        throw new IllegalArgumentException(s"No snapshot $snapshotId for graph: $resolved")
    }
  }

  def snapshots(graphIri: String): Seq[Long] =
    snapshotManifests(GraphCatalog.resolveGraphIri(graphIri)).map(_._1)

  /**
   * CDC read. Fast path: when `to`'s file-set list extends `from`'s (a
   * pure delta-append chain, the common case for the incremental
   * pipeline), the diff IS the extra file sets — each was anti-joined
   * against the full content at ITS commit (writeAttemptStaged), so the
   * union of later deltas is exact inserts and the read is O(delta), never
   * touching the old snapshot's files. A compact()/overwrite in between
   * breaks the prefix property and falls back to the two-sided EXCEPT
   * (two scans + the set-difference shuffles — unavoidable when file
   * lineage can't prove the relationship).
   */
  def diff(graphIri: String, fromId: Long, toId: Long): DataFrame = {
    val resolved = GraphCatalog.resolveGraphIri(graphIri)
    val manifests = snapshotManifests(resolved).toMap
    def pathsOf(id: Long): Seq[String] =
      manifestPaths(manifests.getOrElse(id,
        throw new IllegalArgumentException(s"No snapshot $id for graph: $resolved")))
    val fromPaths = pathsOf(fromId)
    val toPaths = pathsOf(toId)
    lazy val fromDf = spark.read.parquet(fromPaths: _*)
    val change = (v: String) => lit(v).as("change")
    if (toPaths.startsWith(fromPaths)) {
      val newPaths = toPaths.drop(fromPaths.size)
      if (newPaths.isEmpty)
        fromDf.limit(0).withColumn("change", change("insert"))
      else
        spark.read.parquet(newPaths: _*).dropDuplicates(TripleKey)
          .withColumn("change", change("insert"))
    } else {
      val toDf = spark.read.parquet(toPaths: _*)
      toDf.except(fromDf).withColumn("change", change("insert"))
        .unionByName(fromDf.except(toDf).withColumn("change", change("delete")))
    }
  }

  /**
   * Workflow-aware existence (SURVEY S6; persistence_systems.py:760-784):
   * a `urn:x-evn-tag:...` workflow URN exists iff its master graph does.
   */
  def exists(graphIri: String): Boolean =
    latestSnapshot(GraphCatalog.resolveGraphIri(graphIri)).isDefined

  /** COUNT(*) over the named graph — partial+final count agg (SURVEY O9). */
  def count(graphIri: String): Long = read(graphIri)._2.count()

  /** ASK — LIMIT-1 short-circuit, not a scan (SURVEY O10). One snapshot
    * probe: the old exists()+read() pair listed the snapshot dir twice. */
  def ask(graphIri: String): Boolean =
    latestSnapshot(GraphCatalog.resolveGraphIri(graphIri)) match {
      case None => false
      case Some((_, manifest)) => !readManifest(manifest)._2.isEmpty
    }

  /** SELECT * {?s ?p ?o} LIMIT n (SURVEY O11). */
  def selectLimit(graphIri: String, n: Int): DataFrame =
    read(graphIri)._2.select("s", "p", "o").limit(n)

  /** Graph IRIs with at least one committed snapshot. ONE glob pass over
    * `_snapshots/<asterisk>/<asterisk>.json` (a single flat LIST on object
    * stores) instead of a per-graph-directory listing loop — the catalog
    * metadata path a million-graph deployment hits constantly. */
  def graphs(): Seq[String] = {
    val matches = fs.globStatus(new HPath(snapDir, "*/*.json"))
    if (matches == null) Vector.empty
    else matches.toVector
      .filter(st => st.isFile && ManifestName.matcher(st.getPath.getName).matches())
      .map(st => java.net.URLDecoder.decode(st.getPath.getParent.getName, "UTF-8"))
      .distinct
      .sorted
  }
}
