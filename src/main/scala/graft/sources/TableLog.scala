package graft

import java.io.FileNotFoundException

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

/** A table's snapshot log (`_graft_log`) as ONE directory listing: the
  * single definition of the log's on-disk layout, and the point-in-time
  * view every operation reads it through.
  *
  * Layout (Iceberg's manifest-list layering): each commit writes one
  * immutable delta manifest `m-<uuid>.mf` (one data-file path per line,
  * optional stats after a TAB) and claims the version file `vNNNNN.list`:
  * the [[TableLog.SnapshotHeader]], `#`-prefixed commit metadata (the
  * streaming `#txn` record, the `#pos`/`#keys`/`#del` sidecar
  * references) and its manifest names. Commit metadata IO is therefore
  * O(added files + manifest count), and snapshots share manifests.
  * Beside them live the delete sidecars (`pos-*` position lists, `keys-*`
  * key lists, `del-*` predicate SQL), branch logs `branch_<name>/` (own
  * version files and a `base` file, manifests shared with the main log),
  * tag files `tag_<name>`, the history `generation` and `clone_base`.
  *
  * A view answers what the listing's names and mtimes say without another
  * filesystem call, and reads each version file, manifest and predicate
  * at most once in its lifetime: claimed files are immutable, so its memo
  * cannot go stale. A view lives for one operation; a caller that must
  * see concurrent writers (a claim attempt, a post-claim re-check) builds
  * a fresh one there. */
private[graft] final class TableLog private (val dir: HPath,
    manifestDir: HPath, listing: Option[Seq[FileStatus]]) {
  import TableLog._

  private val entries: Map[String, FileStatus] =
    listing.getOrElse(Nil).map(st => st.getPath.getName -> st).toMap

  /** Committed snapshot versions, oldest first. */
  val versions: IndexedSeq[Int] =
    entries.keysIterator.flatMap(versionOf).toIndexedSeq.sorted

  def head: Option[Int] = versions.lastOption

  def has(v: Int): Boolean = entries.contains(versionFile(v))

  def contains(name: String): Boolean = entries.contains(name)

  def file(name: String): HPath = new HPath(dir, name)

  /** Modification time (epoch ms) of the listed entry `name`. */
  def mtimeOf(name: String): Long = entries(name).getModificationTime

  /** Commit wall-clock of version `v`: its version file's mtime — the
    * clock `TIMESTAMP AS OF` and the streaming sources'
    * `startingTimestamp` resolve against. */
  def committedAtMs(v: Int): Long = mtimeOf(versionFile(v))

  /** Version `v`'s file; refuses a version not in the listing. */
  def snapshotFile(v: Int): HPath = {
    require(has(v),
      s"snapshot v$v does not exist (expired by a rewrite, or never " +
        s"committed); available: ${versions.mkString(", ")}")
    file(versionFile(v))
  }

  private val bodies = mutable.HashMap.empty[Int, IndexedSeq[String]]
  private def body(v: Int): IndexedSeq[String] =
    bodies.getOrElseUpdate(v, snapshotBody(snapshotFile(v)))

  /** Manifest names snapshot `v` references, in commit order. */
  def manifestNames(v: Int): Seq[String] = namesIn(body(v))

  /** Snapshot `v`'s `#txn <streamId> <batchId>` record, if any. */
  def txn(v: Int): Option[(String, Long)] = txnOf(body(v))

  private val manifests = mutable.HashMap.empty[String, IndexedSeq[String]]
  /** Raw `path[\tstats]` lines of manifest `name`. */
  def manifestLines(name: String): IndexedSeq[String] =
    manifests.getOrElseUpdate(name, manifestLinesOf(manifestDir, name))

  /** Raw lines of snapshot `v`: its manifests' union, one per path. */
  def lines(v: Int): Seq[String] =
    mergeManifestLines(manifestNames(v).map(manifestLines))

  private val fileLists = mutable.HashMap.empty[Int, Seq[String]]
  /** Data-file paths of snapshot `v` (stats stripped), sorted. */
  def files(v: Int): Seq[String] =
    fileLists.getOrElseUpdate(v, lines(v).map(manifestLinePath))

  // ------------------------------------------------- delete sidecars

  /** Without a listed sidecar no version file is read for references. */
  private val anySidecar = entries.keysIterator.exists(isSidecarName)

  /** The listed sidecars snapshot `v` references. */
  def sidecars(v: Int): Seq[(Sidecar, String)] =
    if (!anySidecar || !has(v)) Nil
    else sidecarRefsOf(body(v)).filter { case (_, n) => contains(n) }

  private def named(v: Int, kind: Sidecar): Seq[String] =
    sidecars(v).collect { case (k, n) if k == kind => n }

  private val predicateTexts = mutable.HashMap.empty[String, String]
  /** Predicate SQL of version `v`'s `#del` sidecar. */
  def predicates(v: Int): Seq[String] = named(v, Sidecar.Predicate).map(n =>
    predicateTexts.getOrElseUpdate(n, WarehouseIO.readString(file(n))))

  /** Version `v`'s `#keys` key-list directory. */
  def keyDirs(v: Int): Seq[HPath] = named(v, Sidecar.Keys).map(file)

  /** Version `v`'s `#pos` position-list directory. */
  def posDirs(v: Int): Seq[HPath] = named(v, Sidecar.Positions).map(file)

  /** Sidecar names version `v` references (a cleanup must capture them
    * before deleting the version file). */
  def refNames(v: Int): Seq[String] = sidecars(v).map(_._2)

  def carriesSidecar(v: Int): Boolean = sidecars(v).nonEmpty

  /** Versions at or before `upTo` that carry a sidecar, oldest first. */
  def pendingVersions(upTo: Int): Seq[Int] =
    if (!anySidecar) Nil
    else versions.filter(v => v <= upTo && carriesSidecar(v))

  /** Listed sidecar and manifest names, referenced or not. */
  def sidecarNames: Seq[String] = entries.keys.filter(isSidecarName).toSeq
  def manifestNamesListed: Seq[String] =
    entries.keys.filter(n => n.startsWith("m-") && n.endsWith(".mf")).toSeq

  // ------------------------------------------------- branches and tags

  /** Names of listed `branch_*` entries: live, mid-creation or phantom. */
  private def branchEntries: Seq[String] = entries.keys
    .collect { case n if n.startsWith(BranchPrefix) =>
      n.stripPrefix(BranchPrefix) }.toSeq.sorted

  private val branchLogs = mutable.HashMap.empty[String, TableLog]
  /** Branch `name`'s own log (one listing of its directory, made on first
    * use); its snapshots resolve manifests against this log. */
  def branch(name: String): TableLog =
    branchLogs.getOrElseUpdate(name, branchOf(dir, name))

  /** Branches with at least one committed version. */
  def branches: Seq[String] =
    branchEntries.filter(b => branch(b).versions.nonEmpty)

  /** Branches live or mid-creation (`base` written, no version yet): the
    * refusal surfaces count both, since a pinned base would never see a
    * later sidecar; read paths use [[branches]] (a phantom heals by
    * re-running createBranch). */
  def branchesOrPending: Seq[String] = branchEntries.filter { b =>
    val l = branch(b)
    l.versions.nonEmpty || l.contains(BranchBaseFile)
  }

  /** The trimmed text of the small file `name`, when it is listed. */
  private def readListed(name: String): Option[String] =
    if (!contains(name)) None
    else Some(WarehouseIO.readString(file(name)).trim)

  /** A branch log's `base` version: the main snapshot it was created at. */
  def baseVersion: Option[Int] = readListed(BranchBaseFile).map(_.toInt)

  def tags: Seq[String] = entries.keys
    .collect { case n if n.startsWith(TagPrefix) => n.stripPrefix(TagPrefix) }
    .toSeq.sorted

  /** The version tag `name` pins; None when no such tag is listed. */
  def tagVersion(name: String): Option[Int] =
    readListed(tagFileName(name)).map(_.toInt)

  // ------------------------------------------------- history identity

  /** A shallow clone: its log names the source root (`clone_base`). */
  def isClone: Boolean = contains(CloneBaseFile)

  /** A shallow clone's source root. */
  lazy val cloneBase: Option[String] = readListed(CloneBaseFile)

  /** Identity of this snapshot history: the UUID in the `generation` file,
    * claimed (exclusive create, racing claimants converge on one winner)
    * when the log exists without one; "none" when there is no log. */
  lazy val generation: String = readListed(GenerationFile).getOrElse {
    if (listing.isEmpty) "none"
    else {
      WarehouseIO.writeStringIfAbsent(file(GenerationFile),
        java.util.UUID.randomUUID().toString)
      WarehouseIO.readString(file(GenerationFile)).trim
    }
  }
}

private[graft] object TableLog {

  def apply(dir: HPath): TableLog =
    new TableLog(dir, dir, WarehouseIO.listing(dir))

  /** One listing of branch `name`'s log under the main log `mainDir`. */
  def branchOf(mainDir: HPath, name: String): TableLog = {
    val d = new HPath(mainDir, branchDirName(name))
    new TableLog(d, mainDir, WarehouseIO.listing(d))
  }

  /** The current generation file of the log at `dir`, read without a
    * listing and without claiming one — the post-claim re-check of a
    * commit, which must see a history rewrite that landed meanwhile. */
  def currentGeneration(dir: HPath): Option[String] =
    try Some(WarehouseIO.readString(new HPath(dir, GenerationFile)).trim)
    catch { case _: FileNotFoundException => None }

  /** Name of version `v`'s file. */
  def versionFile(v: Int): String = f"v$v%05d.list"

  private def versionOf(name: String): Option[Int] =
    if (name.startsWith("v") && name.endsWith(".list"))
      name.stripPrefix("v").stripSuffix(".list").toIntOption
    else None

  private val BranchPrefix = "branch_"
  private val TagPrefix = "tag_"
  val GenerationFile = "generation"
  val CloneBaseFile = "clone_base"
  val BranchBaseFile = "base"

  private def refName(kind: String, name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"$kind name must be [A-Za-z0-9_-]+, got '$name'")
    name
  }

  /** The log entry names of branch and tag `name` (validated: they become
    * paths). */
  def branchDirName(name: String): String =
    BranchPrefix + refName("branch", name)
  def tagFileName(name: String): String = TagPrefix + refName("tag", name)

  /** The three merge-on-read delete sidecar flavours: the name prefix of
    * their files and the snapshot metadata key that references them. */
  sealed abstract class Sidecar(val prefix: String, val key: String)
  object Sidecar {
    case object Positions extends Sidecar("pos-", "pos")
    case object Keys extends Sidecar("keys-", "keys")
    case object Predicate extends Sidecar("del-", "del")
    val all: Seq[Sidecar] = Seq(Positions, Keys, Predicate)
  }

  /** A fresh, unique sidecar name of flavour `kind`. */
  def newSidecarName(kind: Sidecar): String =
    kind.prefix + java.util.UUID.randomUUID().toString.take(12)

  def isSidecarName(name: String): Boolean =
    Sidecar.all.exists(k => name.startsWith(k.prefix))

  // ------------------------------------------- layered snapshot format

  /** First line of every snapshot file; readers refuse a file without it. */
  val SnapshotHeader = "#manifests"

  /** Write an immutable manifest of pre-rendered `path[\tstats]` lines
    * into `logDir`; returns its name. UUID-named: manifests are shared by
    * many snapshots and never keyed to one version. */
  def writeManifestLines(logDir: HPath, lines: Seq[String]): String = {
    val name = s"m-${java.util.UUID.randomUUID().toString.take(18)}.mf"
    WarehouseIO.writeString(new HPath(logDir, name), lines.mkString("\n"))
    name
  }

  /** What a commit records about each data file it adds, in the manifest
    * entry's stats JSON: rows (`n`), bytes (`size`) and modification time
    * in epoch ms (`mtime`) — the `files` and `partitions` metadata tables
    * answer from these without opening the file. */
  final case class FileFacts(rows: Long, size: Long, mtimeMs: Long)

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A manifest line for `path`: its column-stats JSON (if any) with
    * `facts` (if any) merged in; a bare path when neither is given. */
  def renderEntry(path: String, stats: Option[String],
      facts: Option[FileFacts]): String = facts match {
    case None => stats.fold(path)(j => s"$path\t$j")
    case Some(f) =>
      val node = stats.fold(json.createObjectNode())(j =>
        json.readTree(j).asInstanceOf[
          com.fasterxml.jackson.databind.node.ObjectNode])
      node.put("n", f.rows).put("size", f.size).put("mtime", f.mtimeMs)
      s"$path\t${json.writeValueAsString(node)}"
  }

  /** The [[FileFacts]] a manifest line records; None for an entry written
    * without them (a bare path, or column stats alone). */
  def entryFacts(line: String): Option[FileFacts] = {
    val i = line.indexOf('\t')
    if (i < 0) None
    else {
      val node = json.readTree(line.substring(i + 1))
      Seq("n", "size", "mtime").map(k => Option(node.get(k))) match {
        case Seq(Some(n), Some(s), Some(m)) =>
          Some(FileFacts(n.asLong, s.asLong, m.asLong))
        case _ => None
      }
    }
  }

  /** The path of a manifest line (everything before the stats TAB). */
  def manifestLinePath(line: String): String = {
    val i = line.indexOf('\t')
    if (i < 0) line else line.substring(0, i)
  }

  /** Driver-side manifest CONTENT reads since process start (names-only
    * snapshot reads don't count). Spec seam: metadata surfaces that claim
    * distributed accounting (metaSnapshots) prove it by diffing this
    * around a call — zero means no manifest's file list ever
    * materialized on the driver. */
  private[graft] val manifestContentReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Raw `path[\tstats]` lines of manifest `name` — the merge/compaction
    * reader: folding manifests must PRESERVE stats entries, not strip
    * them to paths. */
  def manifestLinesOf(logDir: HPath, name: String): IndexedSeq[String] = {
    manifestContentReads.incrementAndGet()
    WarehouseIO.readString(new HPath(logDir, name))
      .split("\n").filter(_.nonEmpty).toIndexedSeq
  }

  /** Fold manifest lines from several manifests into one line per path:
    * a stats-bearing line beats a bare path (compaction must not lose
    * stats), and among stats-bearing duplicates the line from the LATER
    * chunk wins — explicitly by position, never by line length: a
    * refreshed stats entry can legitimately render SHORTER than the one
    * it supersedes (e.g. an analyze that dropped a registered column),
    * and "longer wins" would keep serving the stale bounds. */
  def mergeManifestLines(chunks: Seq[Seq[String]]): Seq[String] = {
    val byPath = mutable.LinkedHashMap.empty[String, String]
    chunks.foreach(_.foreach { line =>
      val p = manifestLinePath(line)
      val bare = line.indexOf('\t') < 0
      byPath.get(p) match {
        case Some(prev) if bare && prev.indexOf('\t') >= 0 =>
          () // a bare path never demotes an existing stats entry
        case _ => byPath(p) = line // later chunk wins otherwise
      }
    })
    byPath.toSeq.sortBy(_._1).map(_._2)
  }

  /** Render a layered snapshot pointing at `manifestNames`. Optional
    * `metadata` entries ride inside the snapshot file as `#`-prefixed
    * lines (atomic with the commit that claims it). */
  def renderSnapshot(manifestNames: Seq[String],
      metadata: Seq[String] = Nil): String =
    (SnapshotHeader +: (metadata.map("#" + _) ++ manifestNames))
      .mkString("\n")

  /** The metadata lines of a commit: the streaming `txn` record (the id
    * [[encodeTxnId]]-escaped) and one reference per delete sidecar. A
    * sidecar referenced INSIDE the claimed snapshot is atomic with it: a
    * sidecar that landed after its snapshot would let a changelog
    * consumer reading the version in that window emit an empty change
    * and advance past the delete. */
  def commitMetadata(txn: Option[(String, Long)],
      sidecars: Seq[(Sidecar, String)]): Seq[String] =
    txn.map { case (id, b) => s"txn ${encodeTxnId(id)} $b" }.toSeq ++
      sidecars.map { case (k, n) => s"${k.key} $n" }

  /** The lines after the header of snapshot file `snapshotPath`;
    * refuses, by name, a file that does not start with
    * [[SnapshotHeader]] — no writer produces one. */
  private def snapshotBody(snapshotPath: HPath): IndexedSeq[String] = {
    val lines = WarehouseIO.readString(snapshotPath).split("\n", -1)
      .toIndexedSeq
    require(lines.headOption.contains(SnapshotHeader),
      s"snapshot file $snapshotPath lacks the $SnapshotHeader header: " +
        "not a snapshot this table format writes")
    lines.tail
  }

  /** Manifest names of a snapshot file, in commit order. */
  def snapshotManifestNames(snapshotPath: HPath): Seq[String] =
    namesIn(snapshotBody(snapshotPath))

  /** `#`-prefixed metadata lines are not manifest names. */
  private def namesIn(body: Seq[String]): Seq[String] =
    body.filter(l => l.nonEmpty && !l.startsWith("#"))

  /** Stream ids default to checkpoint PATHS, which may contain spaces —
    * and the txn line is space-delimited inside a line-oriented snapshot
    * file, so a raw space would shift the batch-id token (every parse
    * returns None → replay dedup silently off → duplicates land) and a
    * raw newline would inject bogus manifest-name lines. Minimal escape
    * of exactly the structural characters: ids without them round-trip
    * byte-identical, so pre-encoding snapshots keep resolving. */
  def encodeTxnId(id: String): String = id
    .replace("%", "%25").replace(" ", "%20")
    .replace("\n", "%0A").replace("\r", "%0D")

  def decodeTxnId(id: String): String = id
    .replace("%0D", "\r").replace("%0A", "\n")
    .replace("%20", " ").replace("%25", "%")

  private def txnOf(body: Seq[String]): Option[(String, Long)] =
    body.find(_.startsWith("#txn ")).flatMap { l =>
      l.stripPrefix("#txn ").split(" ") match {
        case Array(id, b) => b.toLongOption.map(decodeTxnId(id) -> _)
        case _ => None
      }
    }

  private def sidecarRefsOf(body: Seq[String]): Seq[(Sidecar, String)] =
    Sidecar.all.flatMap { k =>
      body.find(_.startsWith(s"#${k.key} "))
        .map(_.stripPrefix(s"#${k.key} ").trim).filter(_.nonEmpty)
        .map(k -> _)
    }

  /** Raw lines of a snapshot file whose manifests live in `logDir`: their
    * union, one line per path ([[mergeManifestLines]]). */
  def readSnapshotLines(logDir: HPath, snapshotPath: HPath): Seq[String] =
    mergeManifestLines(
      snapshotManifestNames(snapshotPath).map(manifestLinesOf(logDir, _)))

  /** Data-file paths of a snapshot file, sorted and deduped. */
  def readSnapshotFiles(logDir: HPath, snapshotPath: HPath): Seq[String] =
    readSnapshotLines(logDir, snapshotPath).map(manifestLinePath)
}
