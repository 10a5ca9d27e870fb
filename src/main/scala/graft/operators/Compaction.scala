package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Compaction for the additive bucket-partitioned index logs — the
  * missing lifecycle piece of the append-only maintenance story. Every
  * idempotent batch append ([[TextSearch.appendTermBatch]],
  * [[MinhashIndex.appendBatch]], [[NgramLm.appendModelBatch]],
  * [[IvfIndex.appendBatch]], [[SpanDedup]]'s count log) adds one file
  * per touched partition per wave; at 100 TB ingest cadence the
  * per-bucket file count — and with it scan open-file overhead — grows
  * without bound. `compactPartitions` rewrites each partition's
  * COMMITTED files into one file, row-for-row (readers that sum count
  * logs or scan postings see identical data, test-pinned
  * bit-identical), while leaving the append protocol's crash-recovery
  * machinery intact:
  *
  *  - only committed data is folded: a `b<tag>-` file whose marker is
  *    absent belongs to a crashed, not-yet-replayed batch — folding it
  *    would double its rows when the source replays. Such files are
  *    carried over untouched, so the replay's clear-and-commit cycle
  *    ([[BatchFs.appendOnce]]) still finds them under their batch prefix;
  *  - markers are preserved: a batch replayed AFTER compaction still
  *    sees its marker and no-ops (its rows now live in the compacted
  *    file);
  *  - the per-partition swap is rename-based and CRASH-RECOVERING:
  *    the live dir is renamed to an `_old-` sibling (invisible to
  *    Spark's partition discovery) before the fully-written staged dir
  *    moves in, so every crash point leaves a layout
  *    [[Compaction.compactPartitions]]'s recovery pass finishes or
  *    unwinds — no crash point loses committed rows, and re-running
  *    compaction after any crash is safe. Single-writer maintenance
  *    windows are assumed, as everywhere in this repo's sink family. */
object Compaction {

  /** `b<tag>-part-….parquet` → Some(tag); base files → None. The tag
    * is everything up to the LAST `-part-` (Spark part-file names
    * cannot contain `-part-` again), so a tag containing dashes — the
    * namespace-batchId scheme, or a namespace that itself embeds
    * "-part-" — never truncates into a tag the marker set can't
    * contain (which would silently carry the file forever and exclude
    * it from every retrain). */
  private[graft] def batchTagOf(name: String): Option[String] = {
    val i = name.lastIndexOf("-part-")
    if (name.startsWith("b") && i > 1) Some(name.substring(1, i)) else None
  }

  /** Tags with a commit marker under `markerRoot` — the committed set
    * every fold/retrain decision classifies against. */
  private[graft] def committedTagSet(markerRoot: String): Set[String] = {
    val markerDir =
      Paths.get(s"$markerRoot/_committed/${BatchFs.MarkerSchemeVersion}")
    if (Files.exists(markerDir))
      BatchFs.children(markerDir).map(_.getFileName.toString).toSet
    else Set.empty
  }

  /** Finish or unwind a compaction interrupted by a crash, leaving the
    * log exactly consistent before the new pass starts. The swap
    * protocol below renames each live partition to an `_old-` sibling
    * before moving its staged replacement in, so every crash point is
    * recoverable from the directory layout alone:
    *
    *  - `_old-<part>` present, live present  → crash after the staged
    *    move-in: the swap COMPLETED; drop the leftover set-aside dir;
    *  - `_old-<part>` present, live missing → crash between rename and
    *    move-in: the staged dir is complete (compacted file + carried
    *    batch files — both written before any rename); promote it, or
    *    restore the set-aside dir if staging is somehow gone;
    *  - staging present with live intact   → crash before that
    *    partition's swap: return any carried `b<tag>-` batch files to
    *    the live dir (the compacted staged file is a discardable
    *    re-derivation) and discard staging. */
  private def recoverInterrupted(root: Path, staging: Path,
                                 partCol: String): Unit = {
    if (Files.exists(root)) {
      // renamed-aside dirs use an `_old-` prefix: Spark's partition
      // discovery ignores `_*` paths, so a reader that lands between a
      // crash and this recovery never parses the set-aside dir as a
      // partition value
      BatchFs.children(root)
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"_old-$partCol="))
        .foreach { old =>
          val name = old.getFileName.toString.stripPrefix("_old-")
          val live = root.resolve(name)
          if (Files.exists(live)) BatchFs.deleteRecursively(old)
          else {
            val staged = staging.resolve(name)
            if (Files.exists(staged)) {
              Files.move(staged, live); BatchFs.deleteRecursively(old)
            } else Files.move(old, live)
          }
        }
    }
    if (Files.exists(staging)) {
      BatchFs.children(staging)
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"$partCol="))
        .foreach { staged =>
          val live = root.resolve(staged.getFileName.toString)
          if (Files.exists(live)) {
            BatchFs.children(staged)
              .filter(f => batchTagOf(f.getFileName.toString).isDefined)
              .foreach(f => Files.move(f, live.resolve(f.getFileName),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING))
          }
        }
      BatchFs.deleteRecursively(staging)
    }
  }

  /** Compact one additive log directory `dataDir` laid out as
    * `<partCol>=<v>/` parquet partitions, with commit markers under
    * `markerRoot` (the index root — several logs can share one marker
    * dir, e.g. the LM's uni/bi/tri). Crash-recovering and idempotent:
    * an interrupted pass is finished or unwound by
    * [[recoverInterrupted]] before the new pass starts, and every swap
    * step is an atomic rename — no crash point loses committed rows.
    * Returns (parquet files before, parquet files after). */
  def compactPartitions(spark: SparkSession, dataDir: String,
                        markerRoot: String, partCol: String): (Int, Int) = {
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return (0, 0)
    val staging = Paths.get(s"$dataDir.compact-staging")
    recoverInterrupted(root, staging, partCol)
    val committedTags = committedTagSet(markerRoot)
    val partDirs = BatchFs.children(root).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$partCol="))
    def parquets(d: Path) = BatchFs.children(d)
      .filter(_.getFileName.toString.endsWith(".parquet"))
    val byPart = partDirs.map(d => d -> parquets(d))
    val before = byPart.map(_._2.size).sum
    val committed = byPart.flatMap(_._2).filter { f =>
      batchTagOf(f.getFileName.toString).forall(committedTags.contains)
    }
    if (committed.isEmpty) return (before, before)
    spark.read.option("basePath", dataDir)
      .parquet(committed.map(_.toString): _*)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
    // Spark writes staging partitions under the CANONICAL rendering of
    // each partition value. If a live dir name is non-canonical (e.g.
    // `bucket=07`, or differently-escaped strings from a non-Spark
    // writer), name-based resolution would silently misroute that
    // partition's committed rows — so fail LOUDLY before any rename
    // unless the staged names line up 1:1 with the live names.
    val liveNames = byPart.map(_._1.getFileName.toString).toSet
    val stagedDirs = BatchFs.children(staging).filter(p =>
      Files.isDirectory(p) && p.getFileName.toString.startsWith(s"$partCol="))
    val stagedNames = stagedDirs.map(_.getFileName.toString).toSet
    val unknownStaged = stagedNames.diff(liveNames)
    require(unknownStaged.isEmpty,
      s"compaction aborted: staged partition dir(s) ${unknownStaged.mkString(", ")} " +
        s"have no same-named live dir under $dataDir — partition values do not " +
        "round-trip Spark's canonical rendering; compact such a log only after " +
        "rewriting it with canonical partition names")
    val missingStaged = byPart.collect {
      case (live, files)
          if files.exists(f =>
            batchTagOf(f.getFileName.toString).forall(committedTags.contains)) &&
            !stagedNames.contains(live.getFileName.toString) =>
        live.getFileName.toString
    }
    require(missingStaged.isEmpty,
      s"compaction aborted: live partition dir(s) ${missingStaged.mkString(", ")} " +
        s"hold committed rows but produced no same-named staged dir under $dataDir — " +
        "promoting would drop them; partition values do not round-trip Spark's " +
        "canonical rendering")
    // swap each STAGED partition (each name is live-matched by the
    // checks above): carry uncommitted batch files into the staged
    // dir, rename live aside, promote staged, drop the old dir.
    // Live dirs with no staged sibling hold only uncommitted files
    // (nothing was folded) and stay untouched.
    stagedDirs.foreach { staged =>
      val live = root.resolve(staged.getFileName.toString)
      parquets(live).filter { f =>
        batchTagOf(f.getFileName.toString).exists(!committedTags.contains(_))
      }.foreach(f => Files.move(f, staged.resolve(f.getFileName)))
      val old = root.resolve(s"_old-${live.getFileName}")
      Files.move(live, old)
      Files.move(staged, live)
      BatchFs.deleteRecursively(old)
    }
    BatchFs.deleteRecursively(staging)
    val after = partDirs.map(parquets(_).size).sum
    (before, after)
  }

  /** Measure-then-decide wrapper (the [[IvfIndex.maintainIndex]]
    * discipline for the additive logs): compact `dataDir` only when
    * some partition's parquet file count exceeds
    * `maxFilesPerPartition` — below the bound, read amplification is
    * tolerable and a rewrite would churn the log for nothing. The
    * decision input is a directory listing (no Spark job). Returns
    * (compacted?, max files per partition observed). Streaming
    * appenders call this on a cadence (every N batches) from the same
    * single-writer maintenance window their appends run in.
    *
    * [[compactPartitions]]' canonical-name abort is CAUGHT here and
    * reported as a skip (loud log, `false` result): every streaming
    * appender reaches compaction through this wrapper, and a
    * non-canonical partition name is a maintenance anomaly — failing
    * the whole streaming query every cadence would turn it into a
    * pipeline outage while the appends themselves are perfectly
    * healthy. Explicit offline compaction (calling
    * [[compactPartitions]] directly) keeps the hard failure. */
  def maintainLog(spark: SparkSession, dataDir: String, markerRoot: String,
                  partCol: String,
                  maxFilesPerPartition: Int = 16): (Boolean, Int) = {
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return (false, 0)
    // trigger on COMMITTED/base parquet files only: marker-less
    // `b<tag>-` files are carried verbatim through compaction (their
    // batch may yet replay), so counting them would make a pile of
    // crashed never-replayed batches re-trigger a full rewrite every
    // cadence without ever reducing the count
    val committedTags = committedTagSet(markerRoot)
    val maxFiles = BatchFs.children(root)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(s"$partCol="))
      .map(d => BatchFs.children(d)
        .count(f => f.getFileName.toString.endsWith(".parquet") &&
          batchTagOf(f.getFileName.toString).forall(committedTags.contains)))
      .foldLeft(0)(math.max)
    if (maxFiles <= maxFilesPerPartition) (false, maxFiles)
    else
      try { compactPartitions(spark, dataDir, markerRoot, partCol); (true, maxFiles) }
      catch {
        case e: IllegalArgumentException
            if Option(e.getMessage).exists(_.contains("compaction aborted")) =>
          // the abort fires BEFORE any rename (compactPartitions stages
          // first, swaps last), so the log is untouched and appends can
          // continue; the next pass retries and re-logs until an
          // operator rewrites the offending partition names. The staged
          // dir is a discardable re-derivation — drop it now rather
          // than leaving it for the next pass's recovery sweep.
          org.slf4j.LoggerFactory.getLogger(getClass).error(
            s"maintainLog: compaction of $dataDir skipped — ${e.getMessage}")
          BatchFs.deleteRecursively(Paths.get(s"$dataDir.compact-staging"))
          (false, maxFiles)
      }
  }

  /** Compact every log of a persisted BM25 term index. */
  def compactTermIndex(spark: SparkSession, dir: String): (Int, Int) =
    compactPartitions(spark, s"$dir/postings", dir, "bucket")

  /** Compact both logs of a persisted MinHash index. */
  def compactMinhashIndex(spark: SparkSession, dir: String): (Int, Int) = {
    val a = compactPartitions(spark, s"$dir/bands", dir, "bucket")
    val b = compactPartitions(spark, s"$dir/docs", dir, "bucket")
    (a._1 + b._1, a._2 + b._2)
  }

  /** Compact the three count logs of a persisted n-gram LM. */
  def compactLmModel(spark: SparkSession, dir: String): (Int, Int) =
    Seq("uni", "bi", "tri").map(sub =>
      compactPartitions(spark, s"$dir/$sub", dir, "bucket"))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
}
