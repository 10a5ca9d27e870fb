package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The one idempotent batch-append commit path of this engine's
  * additive logs (IVF postings, term postings, MinHash bands, LM and
  * NB counts, span windows, PCA moments, edge and adjacency logs,
  * scorecard mins). Every `appendBatch`-style sink calls
  * [[BatchFs.appendOnce]]: the sink only stages its batch's files, and
  * `appendOnce` owns the marker check, the single-writer lease, the
  * move of the staged data files into the live directories under a
  * `b<tag>-` prefix (after deleting any files of that prefix left by a
  * crashed earlier attempt), the staging cleanup and the commit
  * marker. All file motion is `java.nio.file` on a local filesystem;
  * the move is a rename.
  *
  * Directory streams are eagerly listed and CLOSED — these sinks live
  * in long-running streaming jobs, and an unclosed Files.list holds a
  * directory fd until GC, which is not guaranteed before exhaustion.
  */
private[graft] object BatchFs {

  def children(p: Path): List[Path] = {
    val s = Files.list(p)
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  /** The directories holding a log's data files: the partition dirs
    * whose names start with `partPrefix`, or `root` itself for a flat
    * log (empty prefix). */
  private def partitionDirs(root: Path, partPrefix: String): List[Path] =
    if (partPrefix.isEmpty) List(root)
    else children(root).filter(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith(partPrefix))

  /** Clear `b<tag>-*` files from a crashed prior commit attempt out of
    * the live partition directories. */
  private def clearBatch(liveRoot: Path, partPrefix: String, tag: String): Unit =
    if (Files.exists(liveRoot)) {
      partitionDirs(liveRoot, partPrefix).foreach { dir =>
        children(dir)
          .filter(_.getFileName.toString.startsWith(s"b$tag-"))
          .foreach(Files.delete(_))
      }
    }

  /** Move staged parquet data files into the matching live partition
    * directories under the batch prefix. */
  private def commitStaged(stagingRoot: Path, liveRoot: Path, partPrefix: String,
                           tag: String): Unit =
    partitionDirs(stagingRoot, partPrefix).foreach { stagedDir =>
      val dst = liveRoot.resolve(stagingRoot.relativize(stagedDir))
      Files.createDirectories(dst)
      children(stagedDir)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach { f =>
          Files.move(f, dst.resolve(s"b$tag-${f.getFileName}"),
            StandardCopyOption.REPLACE_EXISTING)
        }
    }

  /** One additive log of a batch: live data under `<dir>/<name>`, in
    * partition dirs named `<partPrefix>…` (`list_id=`, `bucket=`), or
    * flat in `<dir>/<name>` when `partPrefix` is empty. */
  final case class Log(name: String, partPrefix: String)

  /** Commit one batch into the logs under `dir` exactly once:
    *
    *  1. a committed marker (`_committed/v2/<tag>`) makes a replay a
    *     no-op: `stage` is not called and the result is 0;
    *  2. under the `scope` lease, `stage` writes each log's batch files
    *     to `<stagingRoot>/<log name>` (`mode=overwrite`, partitioned
    *     like the live log) and returns the marker count. A log it
    *     leaves unwritten — an empty wave — commits nothing;
    *  3. fence; per log, delete `b<tag>-*` files of a crashed earlier
    *     attempt from the live dirs, then move the staged data files in
    *     under that prefix;
    *  4. delete the staging root, fence, and write the marker LAST with
    *     the count. Staging goes first: a crash between the two only
    *     replays steps 2–3, whereas the reverse order would orphan the
    *     staging dir behind a marker that short-circuits every replay.
    *
    * A crash (or a lost lease) anywhere before the marker leaves no
    * marker, and the replay repairs and redoes steps 2–4. Returns the
    * count `stage` returned (0 for a replay). */
  def appendOnce(dir: String, scope: String, batchId: Long, namespace: String,
                 logs: Seq[Log])(stage: Path => Long): Long = {
    val marker = markerFor(dir, batchId, namespace)
    if (Files.exists(marker)) return 0L
    val tag = batchTag(batchId, namespace)
    val staging = Paths.get(s"$dir/_staging/$scope-batch-$tag")
    withLease(dir, scope) { fence =>
      deleteRecursively(staging) // a crashed attempt's leftovers
      val n = stage(staging)
      fence() // abort BEFORE touching the live dirs if the lease is gone
      logs.foreach { log =>
        val live = Paths.get(dir, log.name)
        val staged = staging.resolve(log.name)
        clearBatch(live, log.partPrefix, tag)
        if (Files.exists(staged)) commitStaged(staged, live, log.partPrefix, tag)
      }
      deleteRecursively(staging)
      fence()
      writeMarker(marker, n.toString)
      n
    }
  }

  /** A commit marker (or sentinel) with its payload. */
  def writeMarker(marker: Path, payload: String): Unit = {
    Files.createDirectories(marker.getParent)
    Files.write(marker, payload.getBytes("UTF-8"))
    ()
  }

  /** Markers live under a VERSIONED directory: the tag scheme has
    * changed once already (32-bit hashCode → SHA-256 namespaces), and
    * a persisted sink spanning such a change replays its last
    * committed batch under the new scheme — silent duplication. The
    * version dir makes the break explicit: any future scheme change
    * bumps this constant, and an index/sink that spans the upgrade
    * must be rebuilt (or its stats refreshed from committed data)
    * once, instead of trusting markers the new scheme can't see. */
  private[graft] val MarkerSchemeVersion = "v2"

  def markerFor(dir: String, batchId: Long, namespace: String): Path = {
    val tag = batchTag(batchId, namespace)
    Paths.get(s"$dir/_committed/$MarkerSchemeVersion/$tag")
  }

  def batchTag(batchId: Long, namespace: String): String =
    if (namespace.isEmpty) s"$batchId" else s"$namespace-$batchId"

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => { Files.delete(f); () })
      } finally s.close()
    }

  // ---- single-writer lease fencing -------------------------------------
  //
  // Every additive log in this engine (IVF postings, term index,
  // MinHash bands, LM counts, PCA moments, edge log, scorecard waves)
  // documents "single-writer scope": the marker protocol makes a
  // RE-DELIVERED batch idempotent, but two DIFFERENT writers staging
  // into the same bucket directories interleave silently — each one's
  // clearBatch can delete the other's half-moved files, and both
  // markers land. The lease makes the second writer fail loudly:
  //
  //  1. acquire — atomically create `_lock.<scope>` (Files.createFile
  //     is atomic on POSIX and object-store-emulable as if-none-match);
  //     a live lock by another writer is an immediate error;
  //  2. fence-check — before EVERY live-directory mutation and again
  //     before the commit marker, verify the lock still holds OUR
  //     token; a takeover between stage and commit aborts the commit
  //     (the staged/marker-less files are exactly what the replay
  //     protocol already repairs);
  //  3. release — delete the lock only if it still holds our token;
  //  4. stale takeover — a lock older than `ttlMs` (a crashed writer:
  //     nothing refreshes it) is atomically renamed aside; exactly one
  //     contender wins the rename and retries the create.
  //
  // Scopes are per-log, not per-directory, so a composite commit (the
  // edge log's edges+minhash chain under one dir) nests without
  // self-deadlock while two writers of the SAME log still conflict.

  final case class Lease(lock: Path, token: String)

  /** Default staleness bound: long enough that no healthy appendBatch
    * on this engine's logs outlives it (worst observed wave commit is
    * well under a minute at bench scale), short enough that a crashed
    * writer's lock clears within one maintenance cycle. */
  val DefaultLeaseTtlMs: Long = 10 * 60 * 1000L

  private val leaseCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private def lockPath(dir: String, scope: String): Path =
    Paths.get(dir, s"_lock.$scope")

  def acquireLease(dir: String, scope: String,
                   ttlMs: Long = DefaultLeaseTtlMs): Lease = {
    val lock = lockPath(dir, scope)
    Files.createDirectories(lock.getParent)
    val token = s"${ProcessHandle.current.pid}-${System.nanoTime()}-" +
      s"${leaseCounter.incrementAndGet()}"
    def tryCreate(): Boolean =
      try {
        // write via CREATE_NEW so creation and token content are one
        // atomic visibility unit (no empty-lock window for readers)
        Files.write(lock, token.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (!tryCreate()) {
      val age =
        try System.currentTimeMillis() - Files.getLastModifiedTime(lock).toMillis
        catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
      if (age < ttlMs) {
        val holder = try new String(Files.readAllBytes(lock), "UTF-8")
                     catch { case _: java.io.IOException => "<unreadable>" }
        throw new IllegalStateException(
          s"single-writer lease '$scope' on $dir is held by $holder " +
            s"(age ${age}ms < ttl ${ttlMs}ms); concurrent appends to one " +
            "log are not allowed — retry after the holder commits or the " +
            "lease goes stale")
      }
      // stale: rename aside atomically — exactly one contender wins
      val aside = lock.resolveSibling(s"${lock.getFileName}.stale.$token")
      try {
        Files.move(lock, aside, StandardCopyOption.ATOMIC_MOVE)
        Files.deleteIfExists(aside)
      } catch { case _: java.io.IOException => () } // lost the takeover race
      if (!tryCreate())
        throw new IllegalStateException(
          s"single-writer lease '$scope' on $dir: lost the stale-takeover " +
            "race to another contender; retry")
    }
    Lease(lock, token)
  }

  /** Fence check: the lock must still exist and hold OUR token. Called
    * before every live-directory mutation and before the commit
    * marker, so a writer whose lease was taken over (stale takeover
    * after a long stall) aborts instead of interleaving — its staged /
    * marker-less leftovers are exactly what the replay protocol
    * already repairs. */
  def checkLease(l: Lease): Unit = {
    val held =
      try new String(Files.readAllBytes(l.lock), "UTF-8")
      catch { case _: java.io.IOException => "" }
    if (held != l.token)
      throw new IllegalStateException(
        s"single-writer lease lost: ${l.lock} now holds " +
          s"'${held.take(64)}' (expected '${l.token}'); another writer " +
          "took over a stale lease — this commit is aborted and the " +
          "staged batch will be repaired on replay")
  }

  /** Release: delete only if the lock still holds our token (never
    * delete a successor's lock). */
  def releaseLease(l: Lease): Unit =
    try {
      val held = new String(Files.readAllBytes(l.lock), "UTF-8")
      if (held == l.token) Files.deleteIfExists(l.lock)
      ()
    } catch { case _: java.io.IOException => () }

  /** Run `body` under the scope lease with the standard acquire /
    * fence-on-commit / release bracket. `body` receives a fence
    * callback to invoke immediately before each live-dir mutation and
    * before the marker write. */
  def withLease[T](dir: String, scope: String,
                   ttlMs: Long = DefaultLeaseTtlMs)(body: (() => Unit) => T): T = {
    val lease = acquireLease(dir, scope, ttlMs)
    try body(() => checkLease(lease))
    finally releaseLease(lease)
  }
}
