package graft.data

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-consistent reads for every MAINTAINED index (dedup cells,
  * MinHash bands, IVF cells, TF-IDF postings): a versioned MANIFEST pins
  * the exact file set a reader plans against, and every mutation
  * (append, compaction, artifact rewrite) becomes visible only through
  * ONE atomic commit — so a serve planned at any point during a
  * mutation sees exactly the pre-state or exactly the post-state, never
  * the union a directory listing could observe mid-swap.
  *
  * Layout under an index root:
  *
  *   shard=0/part-....parquet      data files (any single-level
  *   cell=7/part-....parquet       partition layout)
  *   _manifests/m000000000001      manifest versions (text, see below)
  *   _art/name/v000001/            artifact versions (bounded model
  *                                 tables: centroids, df, stats, ...)
  *
  * A manifest lists relative data-file paths (`D <path>`) and the
  * current version directory of each named artifact (`A <name> <dir>`).
  * The CURRENT manifest is simply the highest version present — commits
  * create a new file under a temp name and `rename` it into place
  * (rename-into-fresh-name is the atomic primitive on HDFS and local
  * filesystems alike), so a manifest either exists completely or not at
  * all; there is no pointer file to torn-write.
  *
  * The maintenance protocol every mutator follows:
  *
  *   1. [[reconcile]]: delete any data file or artifact version the
  *      current manifest does not reference — the debris of a crashed
  *      mutation (its files were never committed, so no reader ever saw
  *      them). Adopts a directory-listing manifest for pre-manifest
  *      index dirs (one-time migration).
  *   2. Read the pre-state through [[readData]]/[[readArtifact]]
  *      (pinned to the current manifest).
  *   3. Write new data files (plain `mode("append")` into the partition
  *      layout) and/or new artifact versions ([[writeArtifact]] — a NEW
  *      directory per version, never an in-place overwrite, so no
  *      `refreshByPath` ever invalidates a reader's plan).
  *   4. [[commitListing]]/[[commit]]: publish the post-state.
  *
  * A crash anywhere before step 4 leaves the index EXACTLY at the
  * pre-state for every reader (the new files are invisible orphans);
  * a crash after step 4 leaves it exactly at the post-state (any
  * not-yet-deleted superseded files are orphans). This replaces the
  * round-11 two-marker compaction protocol — and extends the same
  * guarantee to appends and artifact updates, which previously relied
  * on write ordering alone (a crash between a postings append and its
  * df/N artifact rewrite left the artifacts silently stale; now the
  * two publish in one commit).
  *
  * Concurrency contract: ONE writer in the maintainer's window; any
  * number of readers at any time. [[commit]] additionally ENFORCES the
  * window at the version claim — each version filename is claimed
  * exactly once ([[ConcurrentWriterException]] for the loser). The
  * claim is EXACT where the filesystem gives an atomic exactly-once
  * primitive: local files claim via hard-link creation (`link(2)`
  * fails with EEXIST at the kernel — no check-then-act window), and
  * HDFS-style filesystems refuse a rename onto an existing
  * destination. On stores whose rename silently replaces (S3A without
  * a committer) the pre-check downgrades to best-effort detection —
  * deploy a manifest lock service there, as every table format does.
  * APPEND-shaped commits go one further ([[commitDelta]]): a loser
  * whose delta is provably compatible with the winner's commit —
  * disjoint added files, untouched artifact names — REBASES onto the
  * new snapshot and retries instead of failing, so two gates (or a
  * gate plus a batch backfill) appending disjoint batches to one index
  * can coexist; compactions and retrains keep the loud failure.
  *
  * RETENTION is explicit, table-format style: a superseded file stays
  * on disk — and its manifest stays readable ([[loadAt]]/[[readDataAt]],
  * the time-travel read) — until [[vacuum]] prunes versions beyond a
  * caller-chosen window. A reader pinned to any RETAINED manifest never
  * races physical deletion, closing the execute-vs-delete hole the
  * zero-retention posture left open; [[reconcile]] (crash repair)
  * deletes only files referenced by NO retained manifest. Every
  * RECURRING mutation ends with `vacuum(retainVersions)`: superseding
  * mutations ([[graft.data.Dedup.compactIndex]],
  * [[graft.data.Similarity.retrainIvfIndex]]) default the knob to 1
  * (the immediate-delete single-machine economy), appends
  * ([[commitDelta]]) default it to 2 (the pre-append version stays
  * pinned — and pruning an append chain deletes zero data files, see
  * [[commitDelta]]); production sets it to cover the longest-running
  * serve. One-time mutations (builds, the manual
  * [[graft.data.Indexing.rebuildPostingsArtifacts]] repair) retain
  * their predecessor until the next recurring mutation's vacuum slides
  * the window past it. Bounded retention is itself a scale
  * requirement, not just a courtesy: [[reconcile]] parses every
  * retained manifest at the start of every mutation, so an append-only
  * gate that never vacuumed would pay O(stream age) manifest parses
  * per batch.
  *
  * Scale: append commits are O(batch), not O(index files) — an
  * append-shaped commit ([[commitAdded]]) writes ONE immutable SEGMENT
  * file under `_segments/` listing only its added files, and the
  * manifest lists segment REFERENCES (`S <segment>`, inherited from the
  * base snapshot plus the new one) alongside any inline `D` lines; a
  * high-frequency ingest gate therefore writes manifest text
  * proportional to its batch, never to the index (the table-format
  * manifest-list design). [[load]] folds the referenced segments back
  * into the flat file list every consumer sees. Segment-reference
  * count is itself bounded: once it passes `maxSegments` the append
  * CONSOLIDATES — one fresh segment holding the full resolved list,
  * O(index files) once, amortized O(files / maxSegments) per append —
  * and superseding mutations (compaction, retrain, rebuild) reset it
  * to zero by committing their full inline listing (the manifest IS
  * the fresh segment). Segments are immutable once written and named
  * uniquely, so they need no claim: an uncommitted segment (crashed
  * commit) is an invisible orphan the next full [[reconcile]] sweeps,
  * and [[vacuum]] deletes a segment once no retained manifest
  * references it.
  */
object IndexManifest {

  private val ManifestDir = "_manifests"
  private val SegmentDir = "_segments"
  private val ArtRoot = "_art"

  /** Default horizon for the append-path debris sweeps
    * ([[reconcileAppend]]): staging directories and manifest temps
    * YOUNGER than this may belong to a live concurrent appender and are
    * left alone; older ones are certainly a crashed writer's. */
  val DefaultSweepAgeMs: Long = 24L * 3600 * 1000

  /** The single-writer window was violated: another writer claimed the
    * manifest version this commit computed. Appends catch this inside
    * [[commitDelta]] and rebase; every other mutation fails loudly. */
  class ConcurrentWriterException(msg: String)
    extends java.io.IOException(msg)

  /** The post-link freshness check retracted this writer's OWN linked
    * manifest: its claimed name sat at or below the pruned high-water
    * mark. The one claim failure after which the batch may already have
    * landed — a healthy publish built on by successors and pruned before
    * the check ran — so only this one lets [[commitAdded]] treat "the
    * head carries the batch" as success. */
  final class RetractedClaimException(msg: String)
    extends ConcurrentWriterException(msg)

  /** A commit's referenced segment file vanished before the claim —
    * either this writer's own not-yet-referenced segment was swept from
    * under it (self-healed inside [[commitAdded]]: the segment is
    * rewritten and the commit retried), or an INHERITED segment a
    * retained manifest references is gone, which is genuine index
    * corruption and stays loud. Publishing without this check would
    * poison every later [[load]]. */
  final class SegmentsMissingException(val missing: Seq[String])
    extends java.io.IOException(
      s"referenced segment files are missing: ${missing.mkString(", ")}")

  /** Partition-directory `listStatus` calls issued by the file listers —
    * the instrumentation behind the touched-shards append probe: an
    * append on a 16-shard index must list O(batch shards), not
    * O(index shards), per mutation. */
  private[graft] val partitionDirListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Manifest-layer bytes written (manifest bodies + segment files) —
    * the instrumentation behind the O(batch)-commit spec: an append on
    * an index with 10⁵ files must write manifest text proportional to
    * its BATCH, never re-serialize the full file list. */
  private[graft] val manifestBytesWritten =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** A pinned snapshot: data files (relative to the index root,
    * RESOLVED across segment references — every consumer reads this
    * flat list) and the current version directory per artifact name.
    * `segments`/`inline` expose the manifest's internal structure so
    * an append commit can inherit segment references without
    * re-serializing the resolved list. */
  final case class Snapshot(version: Long, dataFiles: Seq[String],
                            artifacts: Map[String, String],
                            segments: Seq[String] = Seq.empty,
                            inline: Seq[String] = Seq.empty)

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.makeQualified(p))
  }

  private def versionOf(name: String): Option[Long] =
    if (name.startsWith("m") && name.drop(1).forall(_.isDigit) &&
        name.length > 1)
      Some(name.drop(1).toLong)
    else None

  /** All data files under single-level `key=value` partition
    * directories, as root-relative paths, sorted. Hidden files and
    * directories (`_`/`.` prefixes) never count. */
  def listDataFiles(spark: SparkSession, path: String): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .flatMap(dir => listPartitionDir(fs, dir.getPath)).sorted
  }

  /** Data files under exactly the named partition directories
    * (`key=value` names, root-relative) — the TOUCHED-SHARDS listing:
    * an append that routed its batch to d directories pays O(d)
    * filesystem calls here, never an O(index)-directory walk. A named
    * directory that does not exist yet (first write into a shard)
    * contributes nothing. */
  def listDataFilesIn(spark: SparkSession, path: String,
                      partitionDirs: Seq[String]): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    partitionDirs.distinct.sorted.flatMap { d =>
      val dir = new Path(root, d)
      if (fs.exists(dir)) listPartitionDir(fs, dir) else Seq.empty
    }
  }

  private def listPartitionDir(fs: FileSystem, dir: Path): Seq[String] = {
    partitionDirListings.incrementAndGet(): Unit
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(st => s"${dir.getName}/${st.getPath.getName}")
  }

  private def manifestFiles(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(st => versionOf(st.getPath.getName).map(_ -> st.getPath))
      .sortBy(_._1)
  }

  /** Pruned-version HIGH-WATER MARK marker files. [[vacuum]] deleting a
    * pruned manifest FREES its version NAME on the filesystem, so the
    * EEXIST-based claim in [[commitAtParts]] alone cannot stop a
    * sufficiently stale writer (descheduled since before two successor
    * commits and a vacuum) from "winning" a claim at a long-dead
    * version — publishing an invisible zombie manifest whose batch is
    * silently lost (an N-writer soak reproduced it — ROADMAP.md
    * "Recent", round 16; IndexManifestSpec pins the exact interleaving:
    * commitAdded returned v2 while the head was v4, because the
    * folder's pruned v2 had freed the name). The mark is the claim
    * floor: vacuum advances it BEFORE deleting the manifests it pruned,
    * and every claim verifies `next > mark` before AND after its link —
    * the post-link check closes the read-then-link window (if the name
    * was recycled, the mark was already >= next when the link landed, by
    * vacuum's ordering). Monotone by construction: one empty marker file whose
    * NAME carries the value, created exclusively, never overwritten;
    * superseded markers are deleted after the higher one exists, so
    * racing vacuums converge on the max without read-modify-write.
    * Dot-prefixed (invisible to [[versionOf]] and every reader) and not
    * `.tmp`-suffixed (invisible to the crashed-temp sweeps). */
  private val HwmPrefix = ".hwm-"

  private def hwmMarkers(fs: FileSystem, root: Path): Seq[(Long, Path)] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith(HwmPrefix) && n.length > HwmPrefix.length &&
          n.drop(HwmPrefix.length).forall(_.isDigit))
        Some(n.drop(HwmPrefix.length).toLong -> st.getPath)
      else None
    }
  }

  /** Highest version any vacuum ever pruned at this root (0 before the
    * first prune) — no claim may target a version at or below it. */
  private def prunedHighWaterMark(fs: FileSystem, root: Path): Long =
    hwmMarkers(fs, root).map(_._1).maxOption.getOrElse(0L)

  private def advanceHighWaterMark(fs: FileSystem, root: Path,
                                   v: Long): Unit = {
    val existing = hwmMarkers(fs, root)
    if (existing.exists(_._1 >= v)) return
    val marker = new Path(new Path(root, ManifestDir), f"$HwmPrefix$v%012d")
    try { val out = fs.create(marker, false); out.close() }
    catch { case _: java.io.IOException => () } // a racer already advanced
    // drop superseded markers; tolerant — racers may be doing the same
    existing.filter(_._1 < v).foreach { case (_, p) =>
      deleteTolerant(fs, p, recursive = false): Unit
    }
  }

  private def readLines(fs: FileSystem, p: Path): Vector[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  private def parse(fs: FileSystem, root: Path, v: Long, p: Path): Snapshot = {
    val lines = readLines(fs, p)
    val inline = lines.collect { case l if l.startsWith("D ") => l.drop(2) }
    val segs = lines.collect { case l if l.startsWith("S ") => l.drop(2) }
    val arts = lines.collect { case l if l.startsWith("A ") =>
      val rest = l.drop(2)
      val cut = rest.indexOf(' ')
      rest.take(cut) -> rest.drop(cut + 1)
    }.toMap
    val segData = segs.flatMap(s =>
      readLines(fs, new Path(root, s)).filter(_.nonEmpty))
    Snapshot(v, segData ++ inline, arts, segs, inline)
  }

  /** [[parse]] tolerating a RACING VACUUM: two post-append vacuums from
    * concurrent writers can interleave so one deletes a superseded
    * manifest (or a segment only pruned manifests reference) while the
    * other is still walking the retained set — a batch whose commit
    * already landed must not fail over debris bookkeeping. A manifest
    * that disappears mid-walk was pruned by the racer, which also owns
    * deleting whatever only it referenced; skipping it here converges
    * on the stricter horizon.
    *
    * The tolerance is scoped to what a racing vacuum can actually
    * produce: vacuums delete manifests BEFORE segments, so by the time
    * a segment is gone every manifest that referenced it is gone too.
    * A segment-read FileNotFound while the MANIFEST file still exists
    * is therefore genuine segment loss — classifying it as "pruned"
    * would silently drop a committed snapshot from every keep-set walk
    * (reconcile would then sweep the batch's data files as orphans) and
    * mask the corruption as 'manifest kept vanishing'. That case throws
    * [[SegmentsMissingException]] on every KEEP-SET walk (load, loadAt,
    * retained-snapshot sweeps — where a dropped snapshot means data
    * loss). The one non-strict caller is [[vacuum]]'s PRUNED-side walk:
    * a corrupt about-to-be-pruned manifest only means some of what it
    * alone referenced survives as orphans — skipping it is safe, and
    * failing every future vacuum over it would wedge the index. */
  private def tryParse(fs: FileSystem, root: Path, v: Long,
                       p: Path, strict: Boolean = true): Option[Snapshot] =
    try Some(parse(fs, root, v, p))
    catch {
      case e: java.io.FileNotFoundException =>
        if (!fs.exists(p)) None // the racer pruned this manifest mid-walk
        else if (strict) throw new SegmentsMissingException(Seq(
          Option(e.getMessage).getOrElse(p.toString)))
        else None
    }

  /** Write one immutable SEGMENT file (a bare list of root-relative
    * data-file paths). Uniquely named and unreferenced until a manifest
    * commit lists it, so it needs no claim and no temp: a crashed
    * commit's segment is an invisible orphan for [[reconcile]]. */
  private def writeSegment(fs: FileSystem, root: Path,
                           files: Seq[String]): String = {
    val dir = new Path(root, SegmentDir)
    if (!fs.exists(dir)) fs.mkdirs(dir): Unit
    val rel = s"$SegmentDir/seg-${java.util.UUID.randomUUID().toString.take(12)}"
    val body = files.sorted.mkString("\n").getBytes("UTF-8")
    val out = fs.create(new Path(root, rel), true)
    try out.write(body) finally out.close()
    manifestBytesWritten.addAndGet(body.length.toLong): Unit
    rel
  }

  /** The RETAINED manifest versions, ascending — the time-travel
    * horizon: [[loadAt]]/[[readDataAt]] can pin any of these until
    * [[vacuum]] prunes them. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    manifestFiles(fs, root).map(_._1)
  }

  /** The current (highest-version) manifest, if any. Retries the
    * listing when the head manifest vanishes between list and parse
    * (two racing vacuums with different horizons — see [[tryParse]]);
    * a repeatedly missing head is genuine corruption and throws. */
  def load(spark: SparkSession, path: String): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, path)
    var attempt = 0
    while (attempt < 3) {
      manifestFiles(fs, root).lastOption match {
        case None => return None
        case Some((v, p)) =>
          tryParse(fs, root, v, p) match {
            case some @ Some(_) => return some
            case None => attempt += 1
          }
      }
    }
    throw new java.io.FileNotFoundException(
      s"current manifest of $path kept vanishing between list and parse")
  }

  /** A SPECIFIC retained manifest version — the time-travel load. None
    * once [[vacuum]] has pruned it (or if it never existed; a version
    * whose FILE vanishes mid-parse was pruned mid-race and reads as not
    * retained — a present manifest with a missing segment throws, see
    * [[tryParse]]). */
  def loadAt(spark: SparkSession, path: String, version: Long): Option[Snapshot] = {
    val (fs, root) = fsOf(spark, path)
    manifestFiles(fs, root).find(_._1 == version)
      .flatMap { case (v, p) => tryParse(fs, root, v, p) }
  }

  /** Publish a snapshot as the next manifest version: write to a
    * dot-prefixed temp name, then rename into place — the atomic
    * commit point of every mutation. Single-writer contract, ENFORCED
    * at the claim: the destination version name must not exist (a
    * local-filesystem rename would silently replace it — the
    * lost-update a racing second writer must not be able to cause), so
    * a violated writer window fails loudly here instead of corrupting
    * the version history. */
  def commit(spark: SparkSession, path: String, dataFiles: Seq[String],
             artifacts: Map[String, String]): Long =
    commitAt(spark, path,
      load(spark, path).map(_.version + 1).getOrElse(1L),
      dataFiles, artifacts)

  /** The claim itself, at an explicit version — the seam the
    * concurrent-writer spec drives: a racing writer that computed the
    * same `next` from a stale load must fail here, never silently
    * replace the other's manifest. */
  private[graft] def commitAt(spark: SparkSession, path: String, next: Long,
                              dataFiles: Seq[String],
                              artifacts: Map[String, String]): Long =
    commitAtParts(spark, path, next, dataFiles, Seq.empty, artifacts)

  /** [[commitAt]] in manifest-internal form: `inline` files serialize
    * as `D` lines, `segments` as `S` references — the append path's
    * O(batch) commit writes zero inline lines and one new segment
    * reference on top of the inherited ones. */
  private def commitAtParts(spark: SparkSession, path: String, next: Long,
                            inline: Seq[String], segments: Seq[String],
                            artifacts: Map[String, String]): Long = {
    val (fs, root) = fsOf(spark, path)
    // referenced segments are verified PRESENT immediately before the
    // claim: publishing a manifest whose segment is already gone (this
    // writer's own segment swept by a reconcile that believed its
    // window exclusive) would poison every later load. The sweep is
    // age-gated so this should never fire in a healthy deployment —
    // when it does (clock skew, operator error), the failure is loud
    // here and [[commitAdded]] self-heals its own lost segment.
    val gone = segments.filterNot(s => fs.exists(new Path(root, s)))
    if (gone.nonEmpty) throw new SegmentsMissingException(gone)
    // claim floor (cheap early reject; the authoritative check is the
    // post-link one below): a version at or below the pruned high-water
    // mark was used and vacuumed — its name is free again, so EEXIST
    // alone would let a stale writer publish an invisible zombie
    if (next <= prunedHighWaterMark(fs, root))
      throw new ConcurrentWriterException(
        s"stale manifest claim: version $next of $path is at or below " +
          "the vacuumed high-water mark — the claimed name was already " +
          "used and pruned; reload and rebase")
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val name = f"m$next%012d"
    // writer-unique temp: with a SHARED temp name, a second writer's
    // create(overwrite) could replace the first writer's bytes between
    // its write and its rename — the one content swap the version-claim
    // guard below cannot see. A crash's leftover temp is dot-prefixed
    // (invisible to load) and swept by the next reconcile.
    val tmp = new Path(dir,
      s".$name.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try {
      val body = (segments.map(s => s"S $s") ++
        inline.sorted.map(f => s"D $f") ++
        artifacts.toSeq.sortBy(_._1).map { case (n, d) => s"A $n $d" })
        .mkString("\n")
      manifestBytesWritten.addAndGet(body.length.toLong): Unit
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    val dst = new Path(dir, name)
    def conflict(): Nothing = {
      fs.delete(tmp, false)
      throw new ConcurrentWriterException(
        s"concurrent manifest writer detected: version $next at $dst " +
          "already exists — the single-writer window was violated")
    }
    if (dst.toUri.getScheme == "file") {
      // local files: claim by HARD LINK — link(2) fails with EEXIST
      // atomically at the kernel, so two racers can never both publish
      // (a local rename would silently replace; exists+rename leaves a
      // check-then-act window). The linked file carries the fully
      // written temp bytes, so readers still see all-or-nothing.
      try
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
      catch {
        case _: java.nio.file.FileAlreadyExistsException => conflict()
      }
      fs.delete(tmp, false): Unit
    } else {
      // HDFS-style: rename refuses an existing destination — exact
      // there too. Object stores whose rename replaces (S3A without a
      // committer) are best-effort through the pre-check; deploy a
      // manifest lock service there, as every table format does.
      if (fs.exists(dst)) conflict()
      if (!fs.rename(tmp, dst)) {
        if (fs.exists(dst)) conflict()
        throw new java.io.IOException(s"manifest commit failed: $tmp -> $dst")
      }
    }
    // post-link freshness: if the name we just claimed sits at or below
    // the pruned high-water mark, a vacuum had already used-and-freed it
    // (vacuum advances the mark BEFORE deleting, so a recycled claim is
    // GUARANTEED to observe mark >= next here) — the published manifest
    // is an invisible zombie below the real head; retract it and fail
    // the claim so the caller rebases onto the true head.
    if (next <= prunedHighWaterMark(fs, root)) {
      deleteTolerant(fs, dst, recursive = false): Unit
      throw new RetractedClaimException(
        s"stale manifest claim detected after publish: version $next of " +
          s"$path is at or below the vacuumed high-water mark — the name " +
          "was recycled; the zombie manifest was retracted, reload and " +
          "rebase")
    }
    next
  }

  /** All retained manifest snapshots, ascending — bounded by the
    * retention window once appends vacuum ([[commitDelta]]). */
  private def retainedSnapshots(spark: SparkSession,
                                path: String): Seq[Snapshot] = {
    val (fs, root) = fsOf(spark, path)
    manifestFiles(fs, root).flatMap { case (v, p) => tryParse(fs, root, v, p) }
  }

  /** The files an append-shaped mutation just wrote: everything listed
    * under the touched partition directories (all of them when `None`)
    * that NO retained manifest references. Retained-but-superseded
    * files (an earlier compaction's time-travel horizon) are excluded —
    * a raw listing would resurrect them — and so are the current
    * snapshot's own files; what remains is exactly this mutation's
    * output, because [[reconcile]] deleted any crashed mutation's
    * orphans before the write began. */
  def addedDataFiles(spark: SparkSession, path: String,
                     touchedDirs: Option[Seq[String]] = None): Seq[String] = {
    val listed = touchedDirs match {
      case Some(dirs) => listDataFilesIn(spark, path, dirs)
      case None => listDataFiles(spark, path)
    }
    val retained = retainedSnapshots(spark, path)
      .flatMap(_.dataFiles).toSet
    listed.filterNot(retained)
  }

  /** [[commit]] of an APPEND-shaped mutation under retention: the next
    * snapshot is the current snapshot's files plus exactly the files
    * the mutation wrote ([[addedDataFiles]] over the partition
    * directories the batch routed to — O(touched dirs) filesystem
    * calls, never a full index walk). Every append commits through
    * this delta form, which also closes the append path's three
    * lifecycle obligations in one place:
    *
    *   - NO-OP SKIP: a replayed batch that wrote no files and changed
    *     no artifact commits NOTHING — idempotent replays (the
    *     streaming gates' at-least-once deliveries) stop minting
    *     byte-identical manifest versions.
    *   - RETENTION: the commit ends with [[vacuum]]`(retainVersions)`,
    *     so a long-lived ingest gate retains a bounded horizon instead
    *     of one manifest per micro-batch forever (reconcile parses
    *     every retained manifest per mutation — unbounded retention
    *     made maintenance cost grow with stream age). Safe by the
    *     SUPERSET property: an append manifest references every file
    *     its predecessor did, so pruning append-chain history deletes
    *     zero data files — only manifest text and superseded artifact
    *     versions past the window.
    *   - REBASE ON CONFLICT: a lost version claim
    *     ([[ConcurrentWriterException]]) reloads the winner's
    *     snapshot, verifies compatibility (added files disjoint from
    *     the winner's, artifact names untouched by the winner), and
    *     retries on top of it — two appenders with disjoint batches
    *     both land; a genuine conflict (two postings appends racing
    *     the same dictionary) stays loud.
    *
    * CONCURRENT-APPENDER CONTRACT: the rebase check is FILE-level
    * (names are writer-unique by construction), not row-level — two
    * appenders handed OVERLAPPING source batches (an at-least-once
    * feed fanned out to two writers) both pass it, because each
    * writer's novelty screen ran against the PRE-conflict snapshot,
    * and the index would silently hold the overlap twice. Concurrent
    * appenders must therefore partition the SOURCE disjointly (the
    * deployment posture of every optimistic table format); redelivery
    * of a batch to the SAME logical writer stays safe — the replay's
    * novelty screen sees the first delivery's commit and packs
    * nothing. Concurrent appenders should also share one
    * `retainVersions`: racing vacuums with different horizons converge
    * on the stricter one (see the tolerant walks in [[vacuum]]). */
  def commitDelta(spark: SparkSession, path: String,
                  artifacts: Map[String, String] = Map.empty,
                  retainVersions: Int = 2,
                  touchedDirs: Option[Seq[String]] = None,
                  preCommitHook: () => Unit = () => (),
                  maxSegments: Int = DefaultMaxSegments): Long =
    commitAdded(spark, path, addedDataFiles(spark, path, touchedDirs),
      artifacts, retainVersions, preCommitHook, maxSegments)

  /** Segment-reference bound before an append consolidates: commit
    * bytes per append are O(batch + maxSegments refs), and every
    * maxSegments-th append pays one O(index files) consolidation —
    * amortized O(files / maxSegments) per commit. */
  val DefaultMaxSegments: Int = 64

  /** The [[commitDelta]] core for callers that already computed the
    * added-file set (e.g. to derive artifact increments from the
    * read-back of exactly the files that landed). `preCommitHook` is
    * the concurrency test seam (the
    * [[graft.data.Similarity.retrainIvfIndex]] precedent): it runs
    * after the base snapshot loads and before the version claim, so a
    * spec can interleave a competing writer's commit into exactly the
    * window the rebase protects. */
  def commitAdded(spark: SparkSession, path: String, added: Seq[String],
                  artifacts: Map[String, String] = Map.empty,
                  retainVersions: Int = 2,
                  preCommitHook: () => Unit = () => (),
                  maxSegments: Int = DefaultMaxSegments): Long = {
    require(maxSegments >= 1, s"maxSegments must be positive, got $maxSegments")
    val base = load(spark, path).getOrElse(Snapshot(0L, Seq.empty, Map.empty))
    if (added.isEmpty && artifacts.isEmpty) return base.version // no-op replay
    val (fs, root) = fsOf(spark, path)
    // the batch's own segment, written ONCE (reused across rebase
    // retries — its content is this writer's delta, independent of the
    // base snapshot; rewritten only if a racing sweep took it)
    var newSeg =
      if (added.nonEmpty) Seq(writeSegment(fs, root, added)) else Seq.empty
    var cur = base
    var attempt = 0
    var segLost = 0
    while (true) {
      try {
        // the concurrency test seam, inside the loop so it sits between
        // this writer's segment write and its claim (re-runs on retry;
        // spec hooks are one-shot-guarded or idempotent)
        preCommitHook()
        // inherit the base's segment references verbatim; inline `D`
        // lines (a build's or compaction's full listing) adopt into a
        // segment ONCE so no append ever re-serializes them — after
        // that, commit bytes are O(batch) + one reference line per
        // retained segment
        val refs = cur.segments.length +
          (if (cur.inline.nonEmpty) 1 else 0) + newSeg.length
        val v =
          if (refs > maxSegments) {
            // consolidation: fold the whole resolved list into ONE
            // fresh segment — the amortized bound on reference count
            val c = commitAtParts(spark, path, cur.version + 1, Seq.empty,
              Seq(writeSegment(fs, root, cur.dataFiles ++ added)),
              cur.artifacts ++ artifacts)
            // the batch's own segment went unreferenced by the
            // consolidated manifest — drop it now instead of leaving
            // an orphan per consolidation for reconcile
            newSeg.foreach(s =>
              deleteTolerant(fs, new Path(root, s), recursive = false))
            c
          } else {
            val inherited = cur.segments ++
              (if (cur.inline.nonEmpty)
                 Seq(writeSegment(fs, root, cur.inline))
               else Seq.empty)
            commitAtParts(spark, path, cur.version + 1, Seq.empty,
              inherited ++ newSeg, cur.artifacts ++ artifacts)
          }
        vacuum(spark, path, retainVersions)
        return v
      } catch {
        case e: SegmentsMissingException =>
          // a sweep took a segment this commit references. Our OWN
          // segments (the batch's, or the inline-adoption one rewritten
          // by the loop) are recoverable — rewrite and retry. A lost
          // INHERITED segment means a retained manifest's reference is
          // dangling: genuine corruption, stays loud.
          segLost += 1
          if (segLost >= 3 || e.missing.exists(cur.segments.toSet)) throw e
          if (newSeg.exists(e.missing.toSet))
            newSeg = Seq(writeSegment(fs, root, added))
        case e: ConcurrentWriterException =>
          attempt += 1
          val now = load(spark, path).getOrElse(throw e)
          // idempotent landing, after a retracted claim only: this
          // writer's manifest WAS linked, and the head already carries
          // every file and artifact pointer of THIS batch (a healthy
          // publish instantly built on by successors and then pruned out
          // from under the post-link freshness check). The batch landed;
          // re-adding it would duplicate. After a plain lost claim the
          // same containment proves nothing — the winner may reference
          // these files itself, which the disjointness check refuses.
          // (the batch's segment is NOT deleted here: the successors
          // that carried the batch forward may reference it — if they
          // consolidated instead, it is unreferenced debris the
          // periodic orphan sweep owns)
          if (e.isInstanceOf[RetractedClaimException] &&
              (added.nonEmpty || artifacts.nonEmpty) &&
              added.forall(now.dataFiles.contains) &&
              artifacts.forall { case (n, rel) =>
                now.artifacts.get(n).contains(rel) })
            return now.version
          if (attempt >= 3) throw e
          val winnerAdded = now.dataFiles.toSet -- base.dataFiles.toSet
          if (added.exists(winnerAdded))
            throw new ConcurrentWriterException(
              "append rebase refused: the winning commit references " +
                "files this append wrote — the deltas are not disjoint")
          if (artifacts.keys.exists(n =>
              now.artifacts.get(n) != base.artifacts.get(n)))
            throw new ConcurrentWriterException(
              "append rebase refused: the winning commit changed an " +
                "artifact this append also updates " +
                s"(${artifacts.keySet.mkString(", ")})")
          cur = now
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[commit]] from the CURRENT directory listing, carrying the
    * previous manifest's artifact pointers (optionally overridden).
    * Correct only for BUILDS (the `mode("overwrite")` write wiped the
    * directory, so the listing is exactly the build's output) — an
    * append under retention must use [[commitDelta]] instead, because
    * a listing would resurrect retained superseded files. */
  def commitListing(spark: SparkSession, path: String,
                    artifacts: Map[String, String] = Map.empty): Long = {
    val prev = load(spark, path).map(_.artifacts).getOrElse(Map.empty)
    commit(spark, path, listDataFiles(spark, path), prev ++ artifacts)
  }

  /** Crash repair + one-time adoption, run at the START of every
    * mutation: with manifests present, delete every data file,
    * artifact version directory, and leftover `_compacting` temp that
    * NO retained manifest references (debris of a crashed mutation —
    * never committed, so never visible to any reader, safe to drop).
    * Files a SUPERSEDED-but-retained manifest still references survive
    * — they belong to the time-travel horizon until [[vacuum]] prunes
    * it. Without a manifest, adopt the current listing as version 1
    * (pre-manifest index migration). Returns the CURRENT snapshot. */
  /** The APPEND-side reconcile: crash repair bounded to what an append
    * actually needs. Full [[reconcile]] walks every index directory —
    * correct for compactions and retrains (they rewrite arbitrary
    * shards, single-writer by contract), but an O(index)-wide walk on
    * the hot per-batch ingest path, and its orphan sweep is UNSAFE
    * under the optimistic append concurrency [[commitAdded]] supports:
    * a concurrent appender's fully-written-but-not-yet-committed files
    * look exactly like crash debris. Appends therefore repair only the
    * things that cannot belong to a live writer: a missing manifest
    * (one-time adoption — the only full listing this path ever pays)
    * and crashed manifest temps (one `_manifests` listing). Data-file
    * orphans stay invisible debris — never attributed to anyone,
    * because appends know their files by construction
    * ([[stageAppend]]) — until the next compaction/retrain's full
    * reconcile sweeps them, the table-format posture (orphan cleanup
    * is maintenance with a single-writer window, not a per-commit
    * scan).
    *
    * Both sweeps this path DOES run are AGE-GATED by `sweepAgeMs`: a
    * manifest `.tmp` or a `_staging/<uuid>` directory younger than the
    * horizon may belong to a LIVE concurrent appender (its temp exists
    * between create and rename; its staging between write and move) and
    * is left alone — deleting it would fail a healthy writer's commit
    * mid-flight. Anything older than the horizon is certainly a crashed
    * writer's debris: the staging dir sweeps here (bounding append-only
    * gates' debris without waiting for a compaction's full reconcile).
    *
    * Already-moved COMMITTED-LOOKING orphans (data files, segments,
    * artifact versions referenced by no retained manifest — a crashed
    * append's moved files, or a lost-CAS retrain/fold attempt's
    * generation) are swept here too, under the same age gate, but only
    * PERIODICALLY: the full orphan walk is O(index files), so it runs
    * at most once per `sweepAgeMs` (a `_last_sweep` marker keeps the
    * clock), amortizing to nothing on the hot per-batch path while
    * bounding debris on gates that NEVER compact (`compactEvery = 0` —
    * which otherwise never run the full [[reconcile]] and would
    * accrete every lost-CAS generation forever). The per-append
    * listing bound is untouched: a marker younger than the horizon
    * costs one `getFileStatus`. */
  def reconcileAppend(spark: SparkSession, path: String,
                      sweepAgeMs: Long = DefaultSweepAgeMs): Snapshot =
    load(spark, path) match {
      case None =>
        commit(spark, path, listDataFiles(spark, path), Map.empty)
        load(spark, path).get
      case Some(snap) =>
        val (fs, root) = fsOf(spark, path)
        val horizon = System.currentTimeMillis() - sweepAgeMs
        sweepManifestTemps(fs, root, olderThan = Some(horizon))
        val staging = new Path(root, "_staging")
        if (fs.exists(staging))
          fs.listStatus(staging).toSeq
            .filter(_.getModificationTime < horizon)
            .foreach(st => deleteTolerant(fs, st.getPath, recursive = true))
        val marker = new Path(root, "_last_sweep")
        val due =
          try fs.getFileStatus(marker).getModificationTime < horizon
          catch { case _: java.io.FileNotFoundException =>
            // first append on this index: start the clock, don't walk
            fs.create(marker, true).close(); false
          }
        if (due) {
          sweepAgedOrphans(spark, path, horizon)
          deleteTolerant(fs, marker, recursive = false): Unit
          fs.create(marker, true).close()
        }
        snap
    }

  /** The full-[[reconcile]] orphan rule under the append path's age
    * gate: delete data files, segment files, and artifact version
    * directories that (a) no retained manifest references AND (b) are
    * older than `horizon` — certainly a crashed or lost-CAS writer's
    * debris, never a live concurrent appender's in-flight output (those
    * are young). One O(index) walk, paid at most once per sweep age by
    * [[reconcileAppend]]'s marker. */
  private def sweepAgedOrphans(spark: SparkSession, path: String,
                               horizon: Long): Unit = {
    val (fs, root) = fsOf(spark, path)
    val retained = retainedSnapshots(spark, path)
    def aged(p: Path): Boolean =
      try fs.getFileStatus(p).getModificationTime < horizon
      catch { case _: java.io.FileNotFoundException => false }
    val keepData = retained.flatMap(_.dataFiles).toSet
    listDataFiles(spark, path).filterNot(keepData).foreach { rel =>
      val p = new Path(root, rel)
      if (aged(p)) deleteTolerant(fs, p, recursive = false): Unit
    }
    val segDir = new Path(root, SegmentDir)
    if (fs.exists(segDir)) {
      val keepSegs = retained.flatMap(_.segments).toSet
      fs.listStatus(segDir).toSeq.filter(_.isFile).foreach { st =>
        if (!keepSegs(s"$SegmentDir/${st.getPath.getName}") &&
            st.getModificationTime < horizon)
          deleteTolerant(fs, st.getPath, recursive = false): Unit
      }
    }
    val artDir = new Path(root, ArtRoot)
    if (fs.exists(artDir)) {
      val keepArts = retained.flatMap(_.artifacts.values).toSet
      fs.listStatus(artDir).toSeq.filter(_.isDirectory).foreach { fam =>
        fs.listStatus(fam.getPath).toSeq.filter(_.isDirectory).foreach { v =>
          val rel = s"$ArtRoot/${fam.getPath.getName}/${v.getPath.getName}"
          if (!keepArts(rel) && v.getModificationTime < horizon)
            deleteTolerant(fs, v.getPath, recursive = true): Unit
        }
      }
    }
  }

  /** Stage-then-move append write: the batch lands under a
    * writer-unique hidden staging directory, then every part file is
    * renamed into its partition directory — and the returned
    * root-relative paths are EXACTLY this writer's files, by
    * construction. No listing diff, so nothing can be mis-attributed:
    * not a crashed replay's orphans (they'd have committed a duplicate
    * row set), not a concurrent appender's in-flight files (the
    * rebase-on-conflict story requires writers that never confuse each
    * other's output). Part names keep Spark's job-unique UUIDs, so
    * moves cannot collide. A crash mid-move leaves unreferenced
    * orphans + a hidden `_staging` dir for the next full
    * [[reconcile]]; the replay re-appends correctly off the pinned
    * pre-state. */
  def stageAppend(df: DataFrame, path: String,
                  partitionCol: String): Seq[String] = {
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, path)
    val stage = new Path(root,
      s"_staging/${java.util.UUID.randomUUID().toString.take(12)}")
    df.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(stage.toString)
    val added = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .foreach { dir =>
        val dst = new Path(root, dir.getPath.getName)
        if (!fs.exists(dst)) fs.mkdirs(dst): Unit
        fs.listStatus(dir.getPath).toSeq.filter { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }.foreach { st =>
          val to = new Path(dst, st.getPath.getName)
          if (!fs.rename(st.getPath, to))
            throw new java.io.IOException(
              s"staged append move failed: ${st.getPath} -> $to")
          added += s"${dir.getPath.getName}/${st.getPath.getName}"
        }
      }
    fs.delete(stage, true)
    added.toSeq.sorted
  }

  /** Delete tolerating a concurrent deleter (a racing vacuum already
    * removed it — `delete` on a missing path returns false, and some
    * stores throw FileNotFound instead; both read as "already gone"). */
  private def deleteTolerant(fs: FileSystem, p: Path,
                             recursive: Boolean): Boolean =
    try fs.delete(p, recursive)
    catch { case _: java.io.FileNotFoundException => false }

  private def sweepManifestTemps(fs: FileSystem, root: Path,
                                 olderThan: Option[Long] = None): Unit =
    fs.listStatus(new Path(root, ManifestDir)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(".tmp") &&
        olderThan.forall(st.getModificationTime < _))
      .foreach(st => deleteTolerant(fs, st.getPath, recursive = false): Unit)

  def reconcile(spark: SparkSession, path: String): Snapshot =
    load(spark, path) match {
      case None =>
        commit(spark, path, listDataFiles(spark, path), Map.empty)
        load(spark, path).get
      case Some(snap) =>
        val (fs, root) = fsOf(spark, path)
        val retained = manifestFiles(fs, root)
          .flatMap { case (v, p) => tryParse(fs, root, v, p) }
        val listed = listDataFiles(spark, path)
        val keep = retained.flatMap(_.dataFiles).toSet
        listed.filterNot(keep).foreach { rel =>
          deleteTolerant(fs, new Path(root, rel), recursive = false): Unit
        }
        // segment files no retained manifest references (a crashed
        // commit's orphan, or a consolidation's superseded inputs whose
        // last referencing manifest a racing vacuum pruned). AGE-GATED,
        // unlike the data-file sweep: a concurrent gate APPENDER (which
        // compactions/retrains now run alongside) holds an unreferenced
        // segment between writeSegment and its manifest claim, and
        // sweeping it would let the appender's commit SUCCEED while its
        // manifest references a deleted segment — poisoning every later
        // load. A young unreferenced segment may be that live writer's;
        // one older than the horizon is certainly crash debris. (The
        // staged-DATA-file window is different: an appender's data
        // files are already referenced by nothing until its commit, and
        // sweeping them fails the appender loudly at its staged move or
        // read-back — never a silently corrupted published manifest.
        // [[commitAtParts]]'s pre-claim segment check backstops even
        // this sweep's residual races into loud, self-healing
        // failures.)
        val segDir = new Path(root, SegmentDir)
        if (fs.exists(segDir)) {
          val keepSegs = retained.flatMap(_.segments).toSet
          val segHorizon = System.currentTimeMillis() - DefaultSweepAgeMs
          fs.listStatus(segDir).toSeq.filter(_.isFile).foreach { st =>
            val rel = s"$SegmentDir/${st.getPath.getName}"
            if (!keepSegs(rel) && st.getModificationTime < segHorizon)
              deleteTolerant(fs, st.getPath, recursive = false): Unit
          }
        }
        // leftover per-shard compaction temps (crashed mid-rewrite)
        fs.listStatus(root).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .foreach { dir =>
            val tmp = new Path(dir.getPath, "_compacting")
            if (fs.exists(tmp)) fs.delete(tmp, true): Unit
          }
        // crashed append staging dirs (stageAppend died before its
        // moves finished). Full reconcile runs in an EXCLUSIVE writer
        // window — no concurrent appender may be staging — which is
        // exactly why appends themselves never sweep here.
        val staging = new Path(root, "_staging")
        if (fs.exists(staging)) fs.delete(staging, true): Unit
        // leftover manifest temps (crashed mid-commit — dot-prefixed,
        // so never visible to load; sweep them here)
        sweepManifestTemps(fs, root)
        // artifact versions no retained manifest points at (a crashed
        // mutation's uncommitted version; superseded versions past the
        // retention window fall to vacuum)
        val artDir = new Path(root, ArtRoot)
        if (fs.exists(artDir)) {
          val current = retained.flatMap(_.artifacts.values).toSet
          fs.listStatus(artDir).toSeq.filter(_.isDirectory).foreach { fam =>
            fs.listStatus(fam.getPath).toSeq.filter(_.isDirectory)
              .foreach { v =>
                val rel = s"$ArtRoot/${fam.getPath.getName}/${v.getPath.getName}"
                if (!current(rel)) fs.delete(v.getPath, true): Unit
              }
          }
        }
        snap
    }

  /** Prune the time-travel horizon to the newest `keepLast` manifests
    * and physically delete everything only the pruned versions
    * referenced — the explicit retention boundary (table-format
    * VACUUM). Runs in the writer window. Deletion order is
    * crash-shaped: manifests go first, so a crash mid-vacuum leaves the
    * not-yet-deleted files as true orphans the next [[reconcile]]
    * removes — never a manifest pointing at deleted files. Returns
    * (manifests pruned, data files + artifact versions deleted). */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1): (Int, Int) = {
    require(keepLast >= 1, s"keepLast must be positive, got $keepLast")
    val (fs, root) = fsOf(spark, path)
    val all = manifestFiles(fs, root)
    if (all.length <= keepLast) return (0, 0)
    val (pruned, kept) = all.splitAt(all.length - keepLast)
    // tolerant parses: a concurrently-racing vacuum (two post-append
    // vacuums from optimistic concurrent appenders) may have deleted a
    // pruned manifest — or even a kept one, under a smaller horizon —
    // between our listing and our walk; the racer owns what only its
    // prunes referenced (see tryParse)
    val keptSnaps = kept.flatMap { case (v, p) => tryParse(fs, root, v, p) }
    val prunedSnaps = pruned.flatMap { case (v, p) =>
      tryParse(fs, root, v, p, strict = false) }
    // advance the claim floor BEFORE freeing any version name: a stale
    // writer racing these deletes must observe mark >= its target in
    // [[commitAtParts]]' post-link check (see prunedHighWaterMark)
    advanceHighWaterMark(fs, root, pruned.last._1)
    pruned.foreach { case (_, p) =>
      deleteTolerant(fs, p, recursive = false): Unit
    }
    val keepData = keptSnaps.flatMap(_.dataFiles).toSet
    val keepArts = keptSnaps.flatMap(_.artifacts.values).toSet
    val keepSegs = keptSnaps.flatMap(_.segments).toSet
    var removed = 0
    prunedSnaps.flatMap(_.dataFiles).distinct.filterNot(keepData)
      .foreach { rel =>
        if (deleteTolerant(fs, new Path(root, rel), recursive = false))
          removed += 1
      }
    prunedSnaps.flatMap(_.artifacts.values).distinct.filterNot(keepArts)
      .foreach { rel =>
        if (deleteTolerant(fs, new Path(root, rel), recursive = true))
          removed += 1
      }
    // segments only pruned manifests referenced (append-chain history
    // past the horizon — and, after a consolidation leaves it, the
    // pre-consolidation segment set); not counted in `removed`, which
    // reports data files + artifact versions like always
    prunedSnaps.flatMap(_.segments).distinct.filterNot(keepSegs)
      .foreach { rel =>
        deleteTolerant(fs, new Path(root, rel), recursive = false): Unit
      }
    (pruned.length, removed)
  }

  /** The pinned data read: exactly the current manifest's files, with
    * the partition column recovered from the directory layout
    * (`basePath`) — same scan node, same partition pruning, same
    * broadcast shapes as a directory read; only the file LISTING is
    * pinned. Falls back to the directory listing for roots without a
    * manifest (externally-built fixtures). */
  def readData(spark: SparkSession, path: String): DataFrame =
    load(spark, path) match {
      case Some(snap) if snap.dataFiles.nonEmpty =>
        val (fs, root) = fsOf(spark, path)
        spark.read.option("basePath", root.toString)
          .parquet(snap.dataFiles.map(f => new Path(root, f).toString): _*)
      case _ => spark.read.parquet(path)
    }

  /** The TIME-TRAVEL data read: exactly the files a specific retained
    * manifest listed — the snapshot a reader would have planned when
    * that version was current. Same scan node, pruning, and broadcast
    * shapes as [[readData]]; only the pinned version differs. Throws
    * once [[vacuum]] has pruned the version (the horizon is explicit,
    * not silently approximated). */
  def readDataAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val snap = loadAt(spark, path, version).getOrElse(
      throw new java.util.NoSuchElementException(
        s"manifest version $version of $path is not retained " +
          s"(available: ${versions(spark, path).mkString(", ")})"))
    val (_, root) = fsOf(spark, path)
    if (snap.dataFiles.isEmpty)
      throw new java.util.NoSuchElementException(
        s"manifest version $version of $path lists no data files")
    spark.read.option("basePath", root.toString)
      .parquet(snap.dataFiles.map(f => new Path(root, f).toString): _*)
  }

  /** The time-travel artifact read — the model version the given
    * manifest paired with its data files (a serve at version v must
    * never mix v's data with a later model). */
  def readArtifactAt(spark: SparkSession, path: String, name: String,
                     version: Long): DataFrame = {
    val snap = loadAt(spark, path, version).getOrElse(
      throw new java.util.NoSuchElementException(
        s"manifest version $version of $path is not retained"))
    val rel = snap.artifacts.getOrElse(name,
      throw new java.util.NoSuchElementException(
        s"manifest version $version of $path carries no artifact '$name'"))
    val (_, root) = fsOf(spark, path)
    spark.read.parquet(new Path(root, rel).toString)
  }

  /** Write the next version of a named artifact (a NEW directory —
    * never an in-place overwrite) and return its manifest pointer.
    * Becomes visible only once a commit carries the pointer. */
  def writeArtifact(spark: SparkSession, path: String, name: String,
                    df: DataFrame): (String, String) = {
    val (fs, root) = fsOf(spark, path)
    val fam = new Path(root, s"$ArtRoot/$name")
    val next =
      if (!fs.exists(fam)) 1L
      else fs.listStatus(fam).toSeq
        .flatMap { st =>
          val n = st.getPath.getName
          if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.length > 1)
            Some(n.drop(1).toLong)
          else None
        }.sorted.lastOption.map(_ + 1).getOrElse(1L)
    val rel = f"$ArtRoot/$name/v$next%06d"
    df.write.mode("overwrite").parquet(new Path(root, rel).toString)
    name -> rel
  }

  /** The pinned artifact read. `legacyDir` bridges pre-manifest index
    * layouts (e.g. a bare `_centroids` directory) so old fixtures stay
    * readable. */
  def readArtifact(spark: SparkSession, path: String, name: String,
                   legacyDir: Option[String] = None): DataFrame = {
    val ptr = load(spark, path).flatMap(_.artifacts.get(name))
    ptr match {
      case Some(rel) =>
        val (_, root) = fsOf(spark, path)
        spark.read.parquet(new Path(root, rel).toString)
      case None =>
        val dir = legacyDir.getOrElse(name)
        spark.read.parquet(s"$path/$dir")
    }
  }
}
