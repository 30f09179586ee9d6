package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}

import scala.util.control.NonFatal

/** THE storage seam: every cross-process atomicity primitive the
  * engine relies on, in one place, each with its object-store port
  * contract spelled out. The local/HDFS implementations live here and
  * ONLY here — a spec pins that the raw java.nio atomicity APIs
  * (atomic rename, hard-link create-exclusive, advisory file locks)
  * appear in no other source file — so a port to an object store
  * re-implements this object and touches nothing else.
  *
  * Port contracts (S3-and-friends), per primitive:
  *  - [[putIfAbsent]]  → conditional PUT (`If-None-Match: *`): the
  *    commit-log protocol's only real requirement. Every modern
  *    object store has it (S3 since 2024, GCS/Azure always).
  *  - [[putAtomic]]    → plain PUT (single-object PUT is atomic on
  *    every store): last-writer-wins publish of DERIVED state only
  *    (checkpoints, watermarks) — never the source of truth.
  *  - [[publishDirIfAbsent]] → multi-object upload + one
  *    conditional-PUT done-marker; consumers list by marker. A
  *    directory rename does not exist on object stores, which is why
  *    the spool's consumers already key on the published NAME only.
  *  - [[withProcessLock]] → a lease object (conditional PUT of a
  *    TTL'd lock key + heartbeat) or a CAS loop on the protected
  *    value. Used only around retention sweeps, where a lost lock
  *    weakens garbage collection, never correctness of data.
  *  - [[exists]]       → HEAD. The repair path batches per-prefix
  *    LISTs instead of per-file HEADs at scale (documented there).
  */
object Store {

  /** Create-exclusive publish: write `bytes` at `dst` iff nothing is
    * there; returns true when THIS call won, false when `dst` already
    * existed (the lost-race signal). Any other I/O failure throws —
    * a swallowed error here would silently drop a commit. Local
    * implementation: temp sibling + POSIX link(2), which fails with
    * EEXIST atomically even over NFS. */
  def putIfAbsent(dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = dst.resolveSibling(
      s".tmp-${java.util.UUID.randomUUID()}")
    // The write sits INSIDE the try: a failed/interrupted write must
    // still delete the (possibly partial) temp sibling, or hot log
    // dirs accumulate orphaned .tmp-* files over time.
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(dst, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** [[putIfAbsent]] for UTF-8 text. */
  def putIfAbsent(dst: Path, text: String): Boolean =
    putIfAbsent(dst, text.getBytes(StandardCharsets.UTF_8))

  /** Overwrite-OK atomic publish of DERIVED state (checkpoints,
    * watermarks): readers see the old or the new bytes, never a torn
    * write. Must not guard the source of truth — there is no
    * conditional check. */
  def putAtomic(dst: Path, bytes: Array[Byte]): Unit = {
    val tmp = dst.resolveSibling(
      s".tmp-${java.util.UUID.randomUUID()}")
    var published = false
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      published = true
    } finally {
      // On success the move consumed the temp; on any failure the
      // (possibly partial) sibling must not leak into the dir.
      if (!published) { Files.deleteIfExists(tmp); () }
    }
  }

  /** Publish a staged DIRECTORY at `dstDir` iff absent; true when this
    * call won. On a lost race (or any move failure with the
    * destination present) the staged copy is dropped and false
    * returns; a genuine failure with NO published destination
    * rethrows — the caller's content would otherwise silently vanish
    * from the feed. */
  def publishDirIfAbsent(tmpDir: Path, dstDir: Path): Boolean = {
    try { Files.move(tmpDir, dstDir, StandardCopyOption.ATOMIC_MOVE); true }
    catch {
      case e: java.nio.file.FileSystemException =>
        // drop our staged copy either way, then verify the assumed
        // winner actually exists
        val it = Files.walk(tmpDir)
        try it.sorted(java.util.Comparator.reverseOrder())
          .iterator().forEachRemaining(p => { Files.deleteIfExists(p); () })
        catch { case NonFatal(_) => () }
        finally it.close()
        if (!Files.exists(dstDir)) throw e
        false
    }
  }

  /** Cross-process mutual exclusion around `body` (advisory file
    * lock, blocking). Same-JVM callers must serialize FIRST (java.nio
    * locks are held per-JVM: a second thread throws rather than
    * waits) — callers keep their own monitor in front. */
  def withProcessLock[T](lockFile: Path)(body: => T): T = {
    val ch = java.nio.channels.FileChannel.open(lockFile,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = ch.lock()
    try body
    finally { lock.release(); ch.close() }
  }

  /** Existence probe (HEAD). O(1) per call locally; a caller probing
    * MANY paths (repair's live-file reconciliation) should batch
    * per-prefix LISTs on an object-store port instead of per-file
    * HEADs. */
  def exists(p: Path): Boolean = Files.exists(p)
}
