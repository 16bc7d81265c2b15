package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The on-disk protocol shared by the three persisted admission indexes
  * (text MinHash, IVF embedding, exact fingerprint; see
  * [[AdmissionIndex]]) and by the exactly-once stream sink. A tier
  * hands this store only what differs: its parameter-key spelling, its
  * base build, its generation write and its compaction sub-tables.
  *
  * Layout. An index family is one corpus path under one parameter set.
  * Its live dir is `{indexRoot}/{path-hash}-{family-hash}-{key-hash}`
  * ([[dirFor]]): the family hash covers the parameters, so sibling
  * parameterizations of one corpus coexist; the key hash also covers
  * the corpus staleness key and [[FormatVersion]], so a regenerated
  * corpus or a layout change gets a new dir. Superseded dirs of the same
  * `{path}-{family}` prefix are swept before a build ([[sweepStale]]).
  * Under a root:
  *  - the base sub-tables and the root marker, written by the build;
  *  - `delta/{md5(genKey)}`: one committed generation per admitted
  *    batch (its own sub-tables and marker);
  *  - `staged/{md5(genKey)}`: one staged round attribution.
  *
  * Commit. Every dir is committed by its `_GRAFT_INDEX_OK` marker
  * ([[Marker]]), a flat JSON object ending in `"version"`
  * ([[encode]] / [[readMarker]]). A dir is written into a private
  * scratch dir ([[scratchDir]]), the marker LAST inside it, and made
  * visible by ONE atomic rename ([[publish]]). Two processes that both
  * miss a marker each build privately and exactly one rename wins; the
  * loser discards its copy. A markerless dir is a crashed write: it is
  * invisible to readers and replaced by the next publish, which first
  * moves the dir's committed `delta/` and `staged/` subtrees into the
  * new build, because those hold admitted docs.
  *
  * Folds. [[appendGeneration]] is idempotent per genKey: a committed
  * generation is never re-written, so replaying an ingest cannot
  * duplicate rows. [[indexRoots]] lists the base plus every committed,
  * non-empty generation, sorted.
  *
  * Compaction ([[compactRoots]]). The merged sub-tables are written to
  * scratch first; then the root marker comes OFF, the sub-table dirs are
  * swapped, every generation is demoted to an empty committed marker
  * (`rows:0, compacted:true`, same genKey, so fold idempotence holds
  * across compaction), and the marker goes back on LAST. A crash inside
  * that window leaves a markerless root, which the next ensure rebuilds
  * while [[publish]] keeps the generations. Residual window: a crash
  * AFTER the swaps and PART-WAY through the demotion loop loses the rows
  * of the generations already demoted, which then live only in the
  * swapped tables the rebuild replaces. The loop is metadata-only
  * milliseconds against the merge that scratch staging fully covers; a
  * deployment wanting no window compacts by snapshot rebuild.
  *
  * Pristine snapshots. A root is a pure function of (corpus, parameters
  * without the owning-lifecycle tag), so the first build of each content
  * key is also published as a HARDLINK snapshot under `.pristine/`, and
  * later same-content ensures of another lifecycle clone it instead of
  * rebuilding ([[buildOrClone]]). Nothing mutates a published file in
  * place: compaction and sweeps unlink and replace whole files or dirs.
  *
  * Locks. Threads ensuring one index family serialize on its build lock
  * ([[lockFor]], keyed by the `{path}-{family}` prefix, so a long-lived
  * process holds one lock per family, not one per corpus generation);
  * different families build concurrently (the front door's three
  * families build side by side on a cold store). Sweeps, folds and
  * compactions also hold this object's monitor, so a sweep never
  * interleaves with a fold. The order is always family lock, then
  * monitor, never the reverse, so no cycle exists. Across processes the
  * scratch-and-rename publish is the only exclusion needed. */
object GenerationStore {

  /** Bumping this invalidates every persisted index (layout change).
    * v3: derived bucket counts + staleness-key change. */
  val FormatVersion = 3

  /** The commit marker's file name. */
  val Marker = "_GRAFT_INDEX_OK"

  /** Repo-local by default (a deployment points this at an object-store
    * prefix). Relative to the working directory like `spark-warehouse`. */
  def indexRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_ROOT", "target/graft-index")

  // ---- keying --------------------------------------------------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Staleness component of the index key: regenerating a fixture in
    * place (same path, new bytes) must produce a different key, or a
    * stale index would silently answer for the new corpus. Two paths:
    *
    *  1. O(1) — a `_GRAFT_MANIFEST` file directly under the corpus dir
    *     (or `{path}.manifest` beside a single-file corpus): its bytes
    *     ARE the key. A corpus writer that bumps the manifest per
    *     publish gives constant-time staleness with ZERO listing — the
    *     object-store path, where a recursive LIST per lookup is a full
    *     prefix scan. The manifest is authoritative: content edits that
    *     do not bump it are the writer's contract violation, not
    *     detectable here by design.
    *  2. fallback — one tree walk folding file count + total bytes +
    *     max mtime. Count+bytes catch regeneration within filesystem
    *     timestamp granularity and same-mtime content rewrites; mtime
    *     catches same-size rewrites. */
  private def stalenessKey(path: String): String = {
    val p = Paths.get(path)
    val manifest = p.resolve("_GRAFT_MANIFEST")
    val sibling = Paths.get(path + ".manifest")
    if (Files.isRegularFile(manifest))
      "m:" + new String(Files.readAllBytes(manifest), "UTF-8").trim
    else if (Files.isRegularFile(sibling))
      "m:" + new String(Files.readAllBytes(sibling), "UTF-8").trim
    else if (!Files.exists(p)) "absent"
    else {
      val s = Files.walk(p)
      try {
        var n = 0L; var bytes = 0L; var m = 0L
        val it = s.iterator()
        while (it.hasNext) {
          val f = it.next()
          n += 1
          if (Files.isRegularFile(f)) bytes += Files.size(f)
          val t = Files.getLastModifiedTime(f).toMillis
          if (t > m) m = t
        }
        s"w:$n|$bytes|$m"
      } finally s.close()
    }
  }

  private def keyedDir(parent: String, path: String, paramKey: String): String = {
    val key = md5hex(
      s"$path|${stalenessKey(path)}|$paramKey|v$FormatVersion").take(16)
    s"$parent/${md5hex(path).take(12)}-${md5hex(paramKey).take(8)}-$key"
  }

  /** The live dir of the index of corpus `path` under `paramKey`:
    * `{indexRoot}/{path-hash}-{family-hash}-{key-hash}`. */
  def dirFor(path: String, paramKey: String): String =
    keyedDir(indexRoot, path, paramKey)

  /** The pristine snapshot dir for a content key (the parameter key
    * without the owning-lifecycle tag), same spelling under
    * `.pristine/`. */
  def pristineDirFor(path: String, contentKey: String): String =
    keyedDir(s"$indexRoot/.pristine", path, contentKey)

  /** The index family of a dir: its `{path}-{family}` name prefix under
    * the same parent. Generations of one corpus and parameter set share
    * it. */
  private[operators] def familyOf(dir: String): String = {
    val p = Paths.get(dir)
    val name = p.getFileName.toString.split("-").take(2).mkString("-")
    Option(p.getParent).fold(name)(par => s"$par/$name")
  }

  private def generationDir(dir: String, genKey: String): String =
    s"$dir/delta/${md5hex(genKey).take(16)}"

  def stagedDir(dir: String, genKey: String): String =
    s"$dir/staged/${md5hex(genKey).take(16)}"

  // ---- the marker codec ----------------------------------------------

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20). */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def unquote(q: String): String = {
    val sb = new StringBuilder
    var i = 1
    while (i < q.length - 1) {
      if (q(i) == '\\') {
        i += 1
        q(i) match {
          case 'n' => sb += '\n'
          case 'r' => sb += '\r'
          case 't' => sb += '\t'
          case 'u' =>
            sb += Integer.parseInt(q.substring(i + 1, i + 5), 16).toChar
            i += 4
          case c => sb += c
        }
      } else sb += q(i)
      i += 1
    }
    sb.toString
  }

  /** Marker bytes: the fields in order, then the format version. Strings
    * are quoted; numbers and booleans print as Scala prints them. */
  def encode(fields: (String, Any)*): Array[Byte] =
    (fields :+ ("version" -> FormatVersion)).map {
      case (k, v: String) => s"${jsonQuote(k)}:${jsonQuote(v)}"
      case (k, v) => s"${jsonQuote(k)}:$v"
    }.mkString("{", ",", "}\n").getBytes("UTF-8")

  private val FieldRe =
    "(\"(?:[^\"\\\\]|\\\\.)*\")\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|[^,}\\s]+)".r

  /** A committed dir's marker fields, strings unquoted. Throws
    * NoSuchFileException when the dir is uncommitted. */
  def readMarker(dir: String): Map[String, String] =
    FieldRe.findAllMatchIn(new String(
        Files.readAllBytes(Paths.get(dir, Marker)), "UTF-8"))
      .map { m =>
        val v = m.group(2)
        unquote(m.group(1)) -> (if (v.startsWith("\"")) unquote(v) else v)
      }.toMap

  private def putMarker(dir: String, bytes: Array[Byte]): Unit = {
    Files.write(Paths.get(dir, Marker), bytes)
    ()
  }

  def committed(dir: String): Boolean = Files.exists(Paths.get(dir, Marker))

  // ---- scratch, publish, sweep ---------------------------------------

  /** Private scratch dir for one write attempt:
    * `{under}/.tmp/{name}-{pid}-{nanos}`. Under the index root it lies
    * OUTSIDE the generation namespace (`.tmp` matches no
    * `{path}-{family}-` prefix), so [[sweepStale]] can never delete an
    * in-flight sibling build. */
  def scratchDir(under: String, name: String): String =
    s"$under/.tmp/$name-${ProcessHandle.current().pid()}-${System.nanoTime()}"

  /** Scratch for a dir under the index root (roots, generations,
    * staged attributions). */
  private[operators] def buildTmpDir(dir: String): String =
    scratchDir(indexRoot, Paths.get(dir).getFileName.toString)

  /** Write `dest` unless it is committed: `write` fills the scratch dir
    * and returns the marker fields, the marker goes in LAST, then one
    * atomic rename publishes it. */
  def commit(dest: String, scratch: => String)
            (write: String => Seq[(String, Any)]): Unit =
    if (!committed(dest)) {
      val tmp = scratch
      writeInto(tmp)(write)
      publish(tmp, dest)
    }

  /** Run `write` into `tmp`, then put the marker it returns LAST. */
  private def writeInto(tmp: String)(write: String => Seq[(String, Any)]): Unit = {
    val fields = write(tmp)
    Files.createDirectories(Paths.get(tmp))
    putMarker(tmp, encode(fields: _*))
  }

  /** Build a root at `dir` through scratch beside it (same filesystem,
    * so the rename stays atomic); a committed `dir` is kept. */
  def build(dir: String)(write: String => Seq[(String, Any)]): Unit = {
    val p = Paths.get(dir).toAbsolutePath
    commit(dir, scratchDir(p.getParent.toString, p.getFileName.toString))(write)
  }

  /** Atomically publish a fully-built directory (its marker was written
    * LAST, inside `tmp`): one rename makes the whole build visible at
    * once. If another process won the race, our build is redundant —
    * delete it and use theirs. A markerless `dest` (a crashed build or
    * a crashed compaction window) is removed first — but its `delta/`
    * and `staged/` subtrees are MOVED into `tmp` before the delete
    * when `tmp` has none of its own: those are committed generations
    * (admitted docs) and staged round attributions, written under the
    * root but owned by their own markers. Deleting them with the root
    * would silently lose every admitted doc on the
    * crashed-compaction → rebuild path. */
  private[operators] def publish(tmp: String, dest: String): Unit = {
    val t = Paths.get(tmp)
    val d = Paths.get(dest)
    // only a MARKERLESS dest is removed, checked right before the
    // delete: a dest another writer committed meanwhile is never
    // deleted (that would blind readers to a published dir); the
    // rename below then loses the race
    if (Files.exists(d) && !Files.exists(d.resolve(Marker))) {
      Seq("delta", "staged").foreach { sub =>
        val src = d.resolve(sub)
        val dst = t.resolve(sub)
        if (Files.isDirectory(src) && !Files.exists(dst)) {
          // the isDirectory check is TOCTOU under a concurrent
          // publisher absorbing the same markerless root — a vanished
          // source means the sibling took it, which is fine
          try { Files.move(src, dst); () }
          catch { case _: java.nio.file.NoSuchFileException => () }
        }
      }
      deleteRec(d)
    }
    try {
      Files.createDirectories(d.getParent)
      Files.move(t, d, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } catch {
      // FileSystemException is the common parent of FileAlreadyExists/
      // DirectoryNotEmpty/AccessDenied — and ALSO what the JDK's unix
      // provider actually throws for a rename onto a non-empty dir
      // (ENOTEMPTY surfaces as the generic parent, not
      // DirectoryNotEmptyException; a narrower list lets a real lost
      // race propagate)
      case e: java.nio.file.FileSystemException =>
        // Possible race loser: another process won the final rename.
        // But FileSystemException also covers persistent non-race
        // failures (AtomicMoveNotSupportedException/EXDEV when the
        // scratch dir spans mounts, I/O errors) — taking the loser path
        // there would silently delete the fresh build and loop
        // forever. Only treat it as a lost race when the winner's
        // marker is actually visible at dest; rethrow otherwise so the
        // real failure surfaces to the caller.
        if (!Files.exists(d.resolve(Marker))) throw e
        // Confirmed loser: before discarding our redundant build, hand
        // BACK the committed delta generations / staged attributions
        // tmp absorbed from the markerless root above — the winner's
        // fresh dir does not contain them, and deleting them with tmp
        // would permanently lose every admitted doc
        restoreSubtrees(t, d)
        deleteRec(t)
    }
  }

  /** Move tmp's `delta/` and `staged/` children into the winning dest,
    * per-generation, skipping any the dest already has (the winner may
    * have absorbed some itself). Every child is an atomically-published
    * self-contained directory (marker inside), so a per-child move is
    * safe under concurrency: losers of a per-child race skip. */
  private def restoreSubtrees(t: Path, d: Path): Unit =
    Seq("delta", "staged").foreach { sub =>
      list(t.resolve(sub)).foreach { child =>
        val dst = d.resolve(sub).resolve(child.getFileName)
        if (!Files.exists(dst)) {
          try {
            Files.createDirectories(dst.getParent)
            Files.move(child, dst)
            ()
          } catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.NoSuchFileException => ()
          }
        }
      }
    }

  /** The children of a dir; empty when it is not one. */
  private def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator.asScala.toList finally s.close()
    }

  /** Delete the superseded siblings of `keep`: same parent, same
    * `{path}-{family}-` prefix, other key — never a sibling
    * parameterization. Keeps the store at one live dir per family. */
  private def sweepSiblings(keep: Path): Unit = {
    val keepName = keep.getFileName.toString
    val prefix = keepName.split("-").take(2).mkString("-") + "-"
    list(keep.getParent).foreach { c =>
      val n = c.getFileName.toString
      if (n.startsWith(prefix) && n != keepName) deleteRec(c)
    }
  }

  /** Delete superseded generations of `keep`'s family (old corpus or
    * old layout), then reap crashed builds' scratch dirs old enough (6h)
    * that no live process can still be writing them. */
  private[operators] def sweepStale(keep: String): Unit = {
    sweepSiblings(Paths.get(keep))
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    list(Paths.get(indexRoot, ".tmp")).foreach { c =>
      // a sibling family's live build may publish (rename away) its
      // scratch dir between the listing and this stat: not stale
      val stale =
        try Files.getLastModifiedTime(c).toMillis < cutoff
        catch { case _: java.nio.file.NoSuchFileException => false }
      if (stale) deleteRec(c)
    }
  }

  def deleteRec(p: Path): Unit = {
    list(p).foreach(deleteRec)
    Files.deleteIfExists(p)
    ()
  }

  /** Recreate `src`'s tree at `dst`: directories created, regular files
    * HARDLINKED (same filesystem; a cross-device or unsupported link
    * throws and the caller falls back). */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    list(src).foreach { c =>
      val d = dst.resolve(c.getFileName)
      if (Files.isDirectory(c)) linkTree(c, d)
      else { Files.createLink(d, c); () }
    }
  }

  // ---- locks and ensure ----------------------------------------------

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The build lock of `dir`'s index family. */
  private[operators] def lockFor(dir: String): Object =
    locks.computeIfAbsent(familyOf(dir), _ => new Object)

  /** The families that own a lock so far. */
  private[operators] def lockedFamilies: Set[String] = locks.keySet.asScala.toSet

  /** Run `body` under `dir`'s family lock, then this object's monitor. */
  def withLocks[A](dir: String)(body: => A): A =
    lockFor(dir).synchronized { synchronized(body) }

  /** Build-if-absent: sweeps the family's superseded dirs, then clones
    * the committed pristine snapshot for `snapDir` if there is one, or
    * runs `build` into scratch and publishes it (see the object doc).
    * Returns `dir`. */
  def ensure(dir: String, snapDir: => String)
            (build: String => Seq[(String, Any)]): String = {
    lockFor(dir).synchronized {
      if (!committed(dir)) {
        synchronized { sweepStale(dir) }
        buildOrClone(dir, snapDir)(build)
      }
    }
    dir
  }

  /** Clone the committed snapshot at `snapDir` into scratch, or run
    * `build` there and ALSO publish the result as the snapshot
    * (hardlinks — the clone costs inode links, not bytes); then publish
    * at `dir`. A clone failure of any kind falls back to the build.
    * Snapshots never take folds or compactions, so they stay pristine. */
  private def buildOrClone(dir: String, snapDir: String)
                          (build: String => Seq[(String, Any)]): Unit = {
    val snapPath = Paths.get(snapDir)
    val tmp = buildTmpDir(dir)
    val cloned = committed(snapDir) &&
      (try { linkTree(snapPath, Paths.get(tmp)); true }
       catch { case scala.util.control.NonFatal(_) =>
         deleteRec(Paths.get(tmp)); false })
    if (!cloned) {
      writeInto(tmp)(build)
      // publish the snapshot FIRST (from hardlinks of the fresh build),
      // then the family dir gets the build itself; losing a snapshot
      // race to a sibling process is fine (publish resolves it)
      try {
        sweepSiblings(snapPath)
        val stmp = buildTmpDir(snapDir)
        linkTree(Paths.get(tmp), Paths.get(stmp))
        publish(stmp, snapDir)
      } catch { case scala.util.control.NonFatal(_) => () /* snapshot is
        an optimization — never fail the build for it */ }
    }
    publish(tmp, dir)
  }

  // ---- generations -----------------------------------------------------

  /** All live roots of an index: the base plus every COMMITTED delta
    * generation (marker present, non-empty), sorted for deterministic
    * union order. A generation without its marker (a crashed append) is
    * invisible — appends are atomic at the marker. */
  private[operators] def indexRoots(dir: String): Seq[String] =
    dir +: list(Paths.get(dir, "delta")).map(_.toString)
      .filter(g => committed(g) && !readMarker(g).get("rows").contains("0"))
      .sorted

  /** True iff the generation for `genKey` has been committed — callers
    * can skip the whole probe-and-fold round, not just the fold. */
  def generationCommitted(dir: String, genKey: String): Boolean =
    committed(generationDir(dir, genKey))

  /** Fold one admitted batch into `dir` as the generation for `genKey`:
    * `write` fills the scratch dir and returns its row count (it writes
    * nothing for an empty batch). No-op once that generation is
    * committed. */
  def appendGeneration(dir: String, genKey: String)(write: String => Long): Unit =
    synchronized {
      val gdir = generationDir(dir, genKey)
      commit(gdir, buildTmpDir(gdir))(tmp =>
        Seq("genKey" -> genKey, "rows" -> write(tmp)))
    }

  /** Repartition `df` by `partCol` (one file per touched partition, not
    * tasks × partitions small files) and write it partitioned to `path`. */
  def writePartitioned(df: DataFrame, partCol: String, path: String): Unit =
    df.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Fold every committed generation's stored rows into the base
    * sub-tables and demote the generations (crash protocol: object doc).
    * `subTables` = (name, partition column); `merged(sub, roots)` is the
    * merged frame of one sub-table over all live roots. No live
    * generation → no-op. */
  def compactRoots(dir: String, subTables: Seq[(String, String)])
                  (merged: (String, Seq[String]) => DataFrame): Unit =
    // the family lock FIRST (the documented lock order): a concurrent
    // ensure of the same dir serializes against the compaction window —
    // without it, an ensure could observe the marker-off window mid-swap,
    // rebuild, and delete the markerless root out from under the swap
    withLocks(dir) {
      val roots = indexRoots(dir)
      if (roots.size > 1) {
        val tmp = buildTmpDir(dir)
        subTables.foreach { case (sub, partCol) =>
          writePartitioned(merged(sub, roots), partCol, s"$tmp/$sub")
        }
        val rootMarker = Paths.get(dir, Marker)
        val markerBytes = Files.readAllBytes(rootMarker)
        Files.delete(rootMarker) // window opens: crash → rebuild
        subTables.foreach { case (sub, _) =>
          deleteRec(Paths.get(dir, sub))
          Files.move(Paths.get(tmp, sub), Paths.get(dir, sub))
        }
        deleteRec(Paths.get(tmp))
        roots.tail.foreach(demoteGeneration)
        putMarker(dir, markerBytes) // window closes
      }
    }

  /** Demote one compacted generation to an empty committed marker with
    * its original genKey. */
  private def demoteGeneration(g: String): Unit = {
    val genKey = readMarker(g).getOrElse("genKey", "?")
    deleteRec(Paths.get(g))
    Files.createDirectories(Paths.get(g))
    putMarker(g, encode("genKey" -> genKey, "rows" -> 0, "compacted" -> true))
  }

  // ---- frozen per-root metadata ----------------------------------------

  /** Identity of a root's committed marker: file key (device + inode),
    * mtime and ctime. Every publish of a root — build, hardlink clone of
    * a pristine snapshot, compaction's marker rewrite — creates a new
    * marker file or a new link to one, which changes the ctime at least;
    * None while the root is uncommitted. */
  private def markerStamp(dir: String): Option[String] = {
    val m = Paths.get(dir, Marker)
    try {
      val a = Files.readAttributes(m,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val ctime =
        try Files.getAttribute(m, "unix:ctime").toString
        catch {
          case _: UnsupportedOperationException |
               _: IllegalArgumentException => ""
        }
      Some(s"${a.fileKey}|${a.lastModifiedTime}|$ctime")
    } catch { case _: java.io.IOException => None }
  }

  /** Per-process cache of one frozen per-root value, read by `read` on a
    * miss. An entry is valid for one (root dir, [[markerStamp]]): a
    * rebuilt root is re-read, and an uncommitted root is never cached.
    * One entry per index family — a newer corpus generation replaces
    * its predecessor's entry — so a long-lived process over a changing
    * corpus holds one entry per family it probes, not one per
    * generation. Cached arrays are shared: callers must not mutate. */
  private[operators] final class FrozenMeta[A](
      read: (org.apache.spark.sql.SparkSession, String) => A) {
    private val byFamily =
      new java.util.concurrent.ConcurrentHashMap[String, (String, String, A)]()
    private val misses = new java.util.concurrent.atomic.AtomicLong()

    def apply(spark: org.apache.spark.sql.SparkSession, dir: String): A =
      markerStamp(dir) match {
        case None => misses.incrementAndGet(); read(spark, dir)
        case Some(stamp) =>
          val fam = familyOf(dir)
          val hit = byFamily.get(fam)
          if (hit != null && hit._1 == dir && hit._2 == stamp) hit._3
          else {
            misses.incrementAndGet()
            val v = read(spark, dir)
            byFamily.put(fam, (dir, stamp, v))
            v
          }
      }

    /** Reads so far (cache misses). */
    def reads: Long = misses.get()
    def entries: Int = byFamily.size
    def holds(dir: String): Boolean =
      Option(byFamily.get(familyOf(dir))).exists(_._1 == dir)
  }
}
