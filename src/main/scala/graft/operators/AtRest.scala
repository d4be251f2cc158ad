package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, when, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

/**
 * Shared at-rest table machinery for the incremental operators
 * ([[DedupIndex]]'s LSH index + corpus, [[Similarity]]'s IVF table):
 * atomic small-file writes, VERSIONED ROOTS for crash-atomic maintenance
 * publishes, `_meta.json` parameter sidecars that turn silent parameter
 * mismatches into loud errors, and a writer LEASE enforcing the
 * single-writer contract.
 *
 * On-disk format (the only one the operators read or write):
 * {{{
 *   root/_current            <- pointer file: the live version number
 *   root/_v<N>/...           <- one complete table per version
 *   root/_v<N>/_meta.json    <- layout parameters + "format": "1"
 *                               (swaps atomically with the data)
 *   root/_v<N>/_ledger/ingest_batch=<B>/ <- per-batch stats deltas
 *   root/_lease              <- writer fence
 *   root/_committed/batch-<B><- exactly-once ingest markers (corpus/IVF)
 *   root/_committed/recheck-<R>, recheck-frontier <- recheck markers
 * }}}
 * Every sidecar is stamped with [[Format]] by [[metaJson]], and
 * [[resolve]]/[[readMeta]] check it: a root holding data without
 * `_current`, a live version without `_meta.json`, or a meta whose
 * `format` is absent or different throws [[UnsupportedTableFormat]].
 * An empty or absent root is a FRESH table: writers create `_v0` (meta
 * first, then the pointer), readers see nothing. Underscore-prefixed
 * names are invisible to parquet partition discovery, so a raw
 * `spark.read.parquet(root)` fails LOUDLY (no schema) instead of
 * silently mixing versions — readers go through [[resolve]].
 *
 * Maintenance publish protocol: stage the FULL new table under
 * `root/_v<N+1>` (invisible to readers), then swap the `_current`
 * pointer with one atomic rename, then GC stale versions KEEPING the
 * just-replaced one — a reader that resolved the old version right
 * before the swap still reads a complete table; the old version dies on
 * the NEXT maintenance pass (one-generation reader grace; a production
 * deployment would add a time-based grace instead).
 *
 * The exactly-once lifecycle lives here too, once for both table
 * families: the stream wrapper ([[ingestStream]]), the batch protocol
 * ([[ingestBatch]]: lease → marker replay → probe snapshot → commit-mutex
 * delta re-probe → publish → ledger delta → `_committed` marker), the
 * recheck marker and frontier ([[recheckSince]]/[[recheckIncremental]])
 * and the stats ledger. A family supplies only how candidates are found
 * and verified and how admitted rows are laid out ([[Admission]]).
 */
object AtRest {

  /** The on-disk format version every `_meta.json` carries. */
  val Format = "1"

  /** A root whose layout is not [[Format]] — an unversioned root, a
   *  version without `_meta.json`, or a meta stamped with another (or
   *  no) format. Legacy layouts written by earlier builds land here; the
   *  operators read and migrate none of them. */
  class UnsupportedTableFormat(root: String, found: String)
    extends IllegalStateException(
      s"$root is not an at-rest table in a supported format: found $found, " +
        s"expected format $Format (_current -> _v<N>/ holding a _meta.json " +
        s"stamped format=$Format); re-seed the table")

  def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write-then-rename ([[graft.zarr.AtomicPublish]]), so no reader (or
   *  replay) ever sees a partial or a missing file — every pointer,
   *  sidecar and marker the recovery paths depend on goes through here.
   *  The temp name is writer-unique, so two concurrent writers (e.g.
   *  sharded ingest streams adopting the same sidecar) cannot clobber
   *  each other's in-flight temp file; the last rename wins. */
  def writeFile(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    graft.zarr.AtomicPublish.write(fs, p, bytes)

  def readFile(fs: FileSystem, p: Path): Array[Byte] = {
    val st = fs.getFileStatus(p)
    val in = fs.open(p)
    try { val b = new Array[Byte](st.getLen.toInt); in.readFully(b); b } finally in.close()
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def utf8(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.UTF_8)

  // ------------------------------------------------------------ versioning

  private def currentPointer(root: String) = new Path(root, "_current")
  private def versionDir(root: String, v: Long) = new Path(root, s"_v$v")

  /** The live version number, None for a fresh root. A corrupt pointer
   *  is an error, and so is data without a pointer (an unversioned
   *  layout): reading either as fresh would hide a table. */
  def currentVersion(fs: FileSystem, root: String): Option[Long] = {
    val p = currentPointer(root)
    if (fs.exists(p)) utf8(readFile(fs, p)).trim.toLongOption match {
      case some @ Some(_) => some
      case None => throw new IllegalStateException(
        s"$root/_current is unparsable; restore it to the live version number")
    }
    else {
      val rootPath = new Path(root)
      val hasData = fs.exists(rootPath) && fs.listStatus(rootPath).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (hasData) throw new UnsupportedTableFormat(root, "data without a _current pointer")
      None
    }
  }

  /** The directory holding the CURRENT complete table: `root/_v<N>`,
   *  format-checked, or `root` itself for a fresh root. Every reader
   *  resolves through here. */
  def resolve(spark: SparkSession, root: String): String =
    resolved(spark, root)._1

  /** [[resolve]] plus the live version's parameters (None = fresh). */
  private def resolved(spark: SparkSession,
      root: String): (String, Option[Map[String, String]]) =
    currentVersion(fsFor(spark, root), root) match {
      case Some(v) =>
        val dir = versionDir(root, v).toString
        (dir, Some(readMetaIn(spark, root, dir)))
      case None => (root, None)
    }

  /** Every COMMITTED version retained under `root`, oldest first, with
   *  its currency flag — the time-travel catalog. Staging directories
   *  (version numbers above `_current`, left by an in-flight or crashed
   *  maintenance pass) are NOT versions: they are incomplete by
   *  definition and never listed. Fresh roots have no version history.
   *  Retention bounds the window: GC keeps the current and just-replaced
   *  generations plus whatever `spark.graft.atrest.versionGraceMs`
   *  preserves. */
  def listVersions(spark: SparkSession, root: String): Seq[(Long, Boolean)] = {
    val fs = fsFor(spark, root)
    currentVersion(fs, root) match {
      case None => Seq.empty
      case Some(cur) =>
        fs.listStatus(new Path(root)).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.startsWith("_v") && n.length > 2 &&
              n.drop(2).forall(_.isDigit)) n.drop(2).toLongOption
          else None
        }.filter(_ <= cur).sorted.map(v => (v, v == cur))
    }
  }

  /** The directory holding version `v`'s complete table — the TIME-TRAVEL
   *  resolve ([[resolve]]'s as-of twin), format-checked like it. Loud on
   *  anything unreadable: a fresh root has no versions, a GC'd generation
   *  is gone (the error names what IS retained), and a number above
   *  `_current` is an in-flight staging dir, incomplete by definition. */
  def resolveAt(spark: SparkSession, root: String, version: Long): String = {
    val fs = fsFor(spark, root)
    val cur = currentVersion(fs, root).getOrElse(throw new IllegalStateException(
      s"$root holds no table — no version history to read"))
    if (version > cur)
      throw new IllegalStateException(
        s"$root version $version is above the current $cur — an uncommitted " +
          "staging directory is not a readable version")
    val dir = versionDir(root, version)
    if (!fs.exists(dir)) {
      val retained = listVersions(spark, root).map(_._1).mkString(", ")
      throw new IllegalStateException(
        s"$root no longer retains version $version (retained: $retained) — " +
          "version GC keeps the current and just-replaced generations, plus " +
          "the spark.graft.atrest.versionGraceMs window")
    }
    readMetaIn(spark, root, dir.toString)
    dir.toString
  }

  /** The staging directory for the next version — wiped if a crashed
   *  earlier attempt left partial data there. Returns (version, dir). */
  def nextStaging(fs: FileSystem, root: String): (Long, Path) = {
    val v = currentVersion(fs, root).getOrElse(-1L) + 1L
    val dir = versionDir(root, v)
    if (fs.exists(dir)) fs.delete(dir, true)
    (v, dir)
  }

  /**
   * Atomically flip `root` to version `v` (one pointer-file rename),
   * then GC every other version directory EXCEPT the one just replaced
   * (one-generation reader grace). The staged version must already hold
   * its `_meta.json` ([[writeMetaStaged]]), so data and meta publish
   * together.
   *
   * Retention knob: `spark.graft.atrest.versionGraceMs` (default 0 =
   * the one-generation rule). When > 0, a non-current version is only
   * GC'd once its directory modification time is older than the grace —
   * the time-based reader grace a long-lived deployment wants (a reader
   * may hold a resolved version for the duration of its longest query).
   * The just-replaced version is always retained one generation
   * regardless, so grace = 0 never breaks the racing reader either.
   */
  def publishVersion(spark: SparkSession, root: String, v: Long): Unit = {
    val fs = fsFor(spark, root)
    val prev = currentVersion(fs, root)
    writeFile(fs, currentPointer(root), utf8(v.toString))
    // the swap is done — everything below is cleanup of now-unreachable data
    val graceMs = spark.conf.get("spark.graft.atrest.versionGraceMs", "0").toLong
    val now = System.currentTimeMillis()
    val keep = Set(s"_v$v") ++ prev.map(p => s"_v$p")
    fs.listStatus(new Path(root)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("_v") && !keep.contains(n) &&
          n.drop(2).forall(_.isDigit) && n.length > 2 &&
          (graceMs <= 0L || now - st.getModificationTime > graceMs))
        fs.delete(st.getPath, true)
    }
  }

  // ---------------------------------------------------------- meta sidecar

  /**
   * `_meta.json`: the layout/signature parameters a table was written
   * with, as a flat string map — e.g. for the LSH index the banding
   * parameters, whose silent mismatch "yields zero collisions" (admits
   * every duplicate) — plus the [[Format]] stamp. Written at table
   * creation, validated by every probe/append/maintenance entry point:
   * mismatch = loud typed error.
   *
   * LOCATION: the meta lives INSIDE the version directory (the pattern
   * the IVF codebook uses), so a maintenance rewrite that changes layout
   * parameters swaps meta and data in atomically together — a root-level
   * sidecar written before (or after) the pointer flip would open a
   * crash window where meta describes one version and `_current` points
   * at another, and a caller whose params match the wrong side would
   * probe a mismatched layout CLEANLY (the silent failure the sidecar
   * exists to kill).
   */
  private def metaJson(params: Map[String, String]): Array[Byte] =
    utf8((params + ("format" -> Format)).toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))

  /** Write `_meta.json` into the CURRENT version dir — the adopt/in-place
   *  path. A fresh root becomes `_v0`: meta first, then the pointer, so a
   *  crash in between leaves a root that still reads as fresh. Two
   *  sharded writers can race that bootstrap — both write "0", so a lost
   *  pointer rename is benign once a pointer exists. Staged rewrites use
   *  [[writeMetaStaged]] so meta swaps with the data. */
  def writeMeta(spark: SparkSession, root: String, params: Map[String, String]): Unit = {
    val fs = fsFor(spark, root)
    val cur = currentVersion(fs, root)
    val dir = versionDir(root, cur.getOrElse(0L))
    fs.mkdirs(dir)
    writeFile(fs, new Path(dir, "_meta.json"), metaJson(params))
    if (cur.isEmpty)
      try writeFile(fs, currentPointer(root), utf8("0"))
      catch { case e: IllegalStateException =>
        if (currentVersion(fs, root).isEmpty) throw e
      }
  }

  /** Write `_meta.json` into a STAGING version directory, BEFORE
   *  [[publishVersion]] — the pointer flip then publishes data and meta
   *  atomically together (no window where they disagree). */
  def writeMetaStaged(spark: SparkSession, stagingDir: Path,
      params: Map[String, String]): Unit = {
    val fs = fsFor(spark, stagingDir.toString)
    fs.mkdirs(stagingDir)
    writeFile(fs, new Path(stagingDir, "_meta.json"), metaJson(params))
  }

  private val MetaEntry = """"([^"]+)"\s*:\s*"([^"]*)"""".r

  /** The live version's parameters (without the format stamp); None for
   *  a fresh root. Throws [[UnsupportedTableFormat]] on any other layout. */
  def readMeta(spark: SparkSession, root: String): Option[Map[String, String]] =
    resolved(spark, root)._2

  /** Version directory `dir`'s parameters, format-checked — the
   *  per-directory primitive behind [[readMeta]]; time-travel readers
   *  pass a historical version dir. */
  def readMetaIn(spark: SparkSession, root: String, dir: String): Map[String, String] = {
    val fs = fsFor(spark, dir)
    val p = new Path(dir, "_meta.json")
    // on a store whose rename cannot replace a file, writeFile's fallback
    // (FileContext's generic overwrite) deletes before it renames, so a
    // sidecar can vanish for a moment when a SAME-CONTENT concurrent writer
    // (two sharded adopters) is mid-swap — retry through the window
    // instead of reporting it gone
    var attempt = 0
    while (true) {
      try {
        val parsed = MetaEntry.findAllMatchIn(utf8(readFile(fs, p)))
          .map(m => m.group(1) -> m.group(2)).toMap
        parsed.get("format") match {
          case Some(Format) => return parsed - "format"
          case Some(other) => throw new UnsupportedTableFormat(root, s"format $other in $p")
          case None => throw new UnsupportedTableFormat(root, s"no format stamp in $p")
        }
      } catch {
        case _: java.io.FileNotFoundException if attempt < 40 =>
          attempt += 1; Thread.sleep(25)
        case _: java.io.FileNotFoundException =>
          throw new UnsupportedTableFormat(root, s"no _meta.json in $dir")
      }
    }
    Map.empty // unreachable
  }

  /** Throw unless every `params` entry matches the persisted sidecar
   *  (a fresh root has nothing to check). The error names every
   *  mismatched key with both values — the loud replacement for the
   *  zero-collisions / silent-mis-prune failure modes. */
  def validateMeta(spark: SparkSession, root: String,
      params: Map[String, String]): Unit =
    readMeta(spark, root).foreach { meta =>
      val bad = params.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        meta.get(k) match {
          case Some(stored) if stored != v => Some(s"$k: caller=$v stored=$stored")
          case _ => None
        }
      }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"parameter mismatch against $root/_meta.json (a mismatched probe/append " +
            s"would silently return wrong results): ${bad.mkString("; ")}")
    }

  /** The adopt-or-check step every appending writer runs: a fresh root
   *  adopts `params` (and becomes `_v0`), an existing table validates
   *  them. Two sharded writers adopting concurrently both write the same
   *  params, so a lost rename race is benign — re-validate instead of
   *  aborting. */
  def validateOrAdoptMeta(spark: SparkSession, root: String,
      params: Map[String, String]): Unit = {
    if (readMeta(spark, root).isEmpty)
      try writeMeta(spark, root, params)
      catch { case _: IllegalStateException => () }
    validateMeta(spark, root, params)
  }

  // ------------------------------------------------------- marker retention

  /**
   * `_committed/_watermark`: every batchId STRICTLY BELOW it is committed
   * history whose per-batch marker has been compacted away. Markers
   * otherwise accrete one file per batch forever (O(1) to check, but a
   * small-file problem at ~10⁶ batches); periodic [[compactMarkers]]
   * bounds the count to the replayable window. The replay check consults
   * the per-batch marker first (present wins — a crash between the
   * watermark write and the marker sweep leaves both, consistently),
   * then the watermark: a replay BELOW it means the streaming checkpoint
   * was truncated or reset, and reprocessing would double-apply — the
   * ingest entry points fail LOUDLY on it instead of guessing.
   */
  /** Record that a maintenance rewrite FOLDED all batch directories into
   *  the seed: `_committed/collapse-frontier` holds the first batch id
   *  NOT covered by the fold (= max committed batch at fold time + 1).
   *  An incremental recheck whose window starts below it cannot scope
   *  its "new" side by batch dirs any more — those dirs are gone — and
   *  must fall back to a full sweep for that one pass (the r15 review's
   *  silently-skipped-range bug). Written BEFORE the version swap:
   *  a crashed staging leaves only a harmlessly-early frontier. */
  def writeCollapseFrontier(fs: FileSystem, root: String): Unit =
    writeFile(fs, new Path(root, "_committed/collapse-frontier"),
      utf8(s"${maxCommittedBatch(fs, root) + 1}"))

  /** The first batch id NOT folded into the seed by past maintenance;
   *  0 when nothing was ever folded. LOUD on an unparsable file (the
   *  silent alternative — treating it as "everything folded" — would
   *  full-sweep EVERY pass forever on the tombstone-based corpus side,
   *  which never rewrites the file). */
  def collapseFrontier(fs: FileSystem, root: String): Long = {
    val p = new Path(root, "_committed/collapse-frontier")
    if (!fs.exists(p)) 0L
    else utf8(readFile(fs, p)).trim.toLongOption.getOrElse(
      throw new IllegalStateException(
        s"$p is unparsable — restore it to '<firstUnfoldedBatchId>' (the " +
          "highest committed batch id at the last maintenance pass, plus 1)"))
  }

  def markerWatermark(fs: FileSystem, root: String): Option[Long] = {
    val p = new Path(root, "_committed/_watermark")
    if (!fs.exists(p)) None
    else utf8(readFile(fs, p)).trim.toLongOption match {
      case some @ Some(_) => some
      case None => throw new IllegalStateException(
        s"$p is unparsable; restore it to the oldest replayable batchId")
    }
  }

  /** Set the watermark to `oldestReplayable` (derive it from the
   *  streaming checkpoint's committed offsets — the caller asserts no
   *  batch below it can replay) and delete the `batch-<n>` markers
   *  below. Watermark first, then the sweep: a crash in between leaves
   *  extra markers, never missing coverage. Monotonic — lowering an
   *  existing watermark would un-commit history. Runs under the root's
   *  writer lease. A sharded fleet's watermark is the MINIMUM of the
   *  shards' oldest replayable namespaced ids. */
  def compactMarkers(spark: SparkSession, root: String,
      oldestReplayable: Long): Unit = withLease(spark, root) {
    val fs = fsFor(spark, root)
    markerWatermark(fs, root).foreach { prev =>
      require(oldestReplayable >= prev,
        s"marker watermark must be monotonic: $oldestReplayable < current $prev")
    }
    val dir = new Path(root, "_committed")
    fs.mkdirs(dir)
    writeFile(fs, new Path(dir, "_watermark"), utf8(oldestReplayable.toString))
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch-"))
        n.drop(6).toLongOption.foreach(id =>
          if (id < oldestReplayable) fs.delete(st.getPath, false))
    }
  }

  /** The loud half of the watermark contract, shared by the ingest entry
   *  points: called when `batchId`'s marker is ABSENT. */
  def failIfBelowWatermark(fs: FileSystem, root: String, batchId: Long): Unit =
    markerWatermark(fs, root).foreach { wm =>
      if (batchId < wm)
        throw new IllegalStateException(
          s"batch $batchId replayed below $root's committed-marker watermark $wm — " +
            "its marker was compacted away, so this replay means the streaming " +
            "checkpoint was truncated or reset and reprocessing would " +
            "double-apply; restore the checkpoint or re-seed the table")
    }

  // ---------------------------------------------------------------- lease

  /**
   * Writer fence: take `root/_lease` or die. The single-writer contract
   * was previously enforced only by convention — a second concurrent
   * ingest stream would corrupt silently; with the lease it fails
   * loudly. Atomic create-no-overwrite claims a free lease; a live
   * foreign lease (younger than `ttlMs`) throws; a stale one (crashed
   * writer) is broken and re-claimed. Same-owner re-acquire refreshes
   * the heartbeat. Best-effort on stores without atomic create — the
   * contract is fail-loud-on-the-common-race, not distributed
   * consensus.
   *
   * One documented benign race: a stream restarting on the SAME
   * checkpoint re-acquires its own (same-owner) lease before the
   * previous query's termination listener fires; the late listener then
   * releases the re-acquired lease. The window closes at the restarted
   * stream's next micro-batch (per-batch same-owner re-acquire
   * refreshes), and only a same-identity restart can hit it — a foreign
   * writer in the window would be caught by that re-acquire.
   */
  def acquireLease(spark: SparkSession, root: String, owner: String,
      ttlMs: Long = 10 * 60 * 1000L): Unit = {
    val fs = fsFor(spark, root)
    // a whole-root writer excludes live foreign SHARD writers too — the
    // root lease claims every shard's range
    def shardConflict(): Option[(String, String)] =
      liveForeignShardLease(fs, root, owner, ttlMs)
    shardConflict().foreach { case (name, holder) =>
      throw new IllegalStateException(
        s"$root is write-locked by shard lease $name (holder '$holder'); " +
          "stop the sharded writers before taking the whole-root lease")
    }
    acquireLeaseAt(fs, root, new Path(root, "_lease"), owner, ttlMs)
    // close the check-then-claim window: a shard writer that slipped in
    // between the check and the create would otherwise run concurrently
    // with this whole-root claim — re-check, back out, fail loudly
    // (best-effort double-check, same contract as the base lease)
    shardConflict().foreach { case (name, holder) =>
      releaseLease(spark, root, owner)
      throw new IllegalStateException(
        s"$root lost the whole-root claim race to shard lease $name " +
          s"(holder '$holder'); retry once the sharded writers stop")
    }
  }

  private def acquireLeaseAt(fs: FileSystem, root: String, p: Path,
      owner: String, ttlMs: Long): Unit = {
    fs.mkdirs(new Path(root))
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false)
        try out.write(utf8(leaseBody(owner))) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    // taken: same owner refreshes; a live foreign holder is fatal; a
    // stale one is broken (delete + one retry). An EMPTY/unreadable body
    // (crash between create and write, external truncation) is treated
    // as unparsable -> the stale-break path, never an exception
    val st = try Some(fs.getFileStatus(p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    val holder = st.map { _ =>
      try utf8(readFile(fs, p)).linesIterator.nextOption().getOrElse("")
      catch { case _: java.io.IOException => "" }
    }.getOrElse("")
    if (holder == owner && holder.nonEmpty) {
      // refresh the heartbeat; a failed publish must not abort a healthy
      // same-owner stream — re-check who actually holds it instead
      try writeFile(fs, p, utf8(leaseBody(owner)))
      catch { case _: IllegalStateException =>
        val now = try utf8(readFile(fs, p)).linesIterator.nextOption().getOrElse("")
          catch { case _: java.io.IOException => "" }
        if (now != owner)
          throw new IllegalStateException(
            s"$root lease refresh lost the fence to '$now' — a concurrent " +
              "writer claimed the lease during the refresh window")
      }
      return
    }
    val age = st.map(s => System.currentTimeMillis() - s.getModificationTime)
    if (st.isDefined && holder.nonEmpty && age.exists(_ < ttlMs))
      throw new IllegalStateException(
        s"$root is write-locked by '$holder' (lease age ${age.get} ms < ttl $ttlMs ms); " +
          "two concurrent writers are not supported — stop the other writer or, " +
          "if it crashed, wait for the lease to go stale")
    // an EMPTY/unreadable body inside the grace window is most likely a
    // LIVE acquirer caught between fs.create and the body write (create
    // is the atomic claim; the write lands milliseconds later) — deleting
    // it here would steal a just-won fence and leave TWO writers holding
    // it. Only a body still empty past the grace (a writer that crashed
    // mid-claim, or external truncation) is stale-broken.
    val emptyGraceMs = math.min(ttlMs, 15000L)
    if (st.isDefined && holder.isEmpty && age.exists(_ < emptyGraceMs))
      throw new IllegalStateException(
        s"$root has a just-created lease with no body yet (age ${age.get} ms < " +
          s"grace $emptyGraceMs ms) — a concurrent acquirer is mid-claim; retry")
    if (st.isDefined) fs.delete(p, false)
    if (!tryCreate())
      throw new IllegalStateException(s"$root lease lost a re-claim race; retry")
  }

  private def leaseBody(owner: String): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName catch {
      case _: Exception => "unknown"
    }
    s"$owner\n$host pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}\n"
  }

  /** Release only an own lease (a foreign holder's fence stays; an
   *  empty/unreadable body is nobody's and stays for the stale-break). */
  def releaseLease(spark: SparkSession, root: String, owner: String): Unit =
    releaseLeaseAt(fsFor(spark, root), new Path(root, "_lease"), owner)

  private def releaseLeaseAt(fs: FileSystem, p: Path, owner: String): Unit = {
    val holder = liveHolderAt(fs, p, Long.MaxValue)
    if (holder.contains(owner)) fs.delete(p, false)
  }

  /** The lease file's holder if the file exists, its body parses and its
   *  age is under `ttlMs` — "live" for conflict checks. */
  private def liveHolderAt(fs: FileSystem, p: Path, ttlMs: Long): Option[String] =
    try {
      val st = fs.getFileStatus(p)
      val holder = utf8(readFile(fs, p)).linesIterator.nextOption().getOrElse("")
      if (holder.nonEmpty &&
          System.currentTimeMillis() - st.getModificationTime < ttlMs) Some(holder)
      else None
    } catch { case _: java.io.IOException => None }

  // -------------------------------------------------------- sharded leases

  private val ShardLeaseName = """_lease\.s(\d+)of(\d+)""".r

  private def shardLeasePath(root: String, shard: Int, nShards: Int): Path =
    new Path(root, s"_lease.s${shard}of$nShards")

  /** The first LIVE foreign shard lease under `root`, as (name, holder). */
  private def liveForeignShardLease(fs: FileSystem, root: String, owner: String,
      ttlMs: Long): Option[(String, String)] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) None
    else fs.listStatus(rootPath).iterator
      .filter(st => st.isFile && ShardLeaseName.matches(st.getPath.getName))
      .flatMap(st => liveHolderAt(fs, st.getPath, ttlMs)
        .filter(_ != owner).map(h => (st.getPath.getName, h)))
      .nextOption()
  }

  /**
   * SHARDED writer fence — N ingest streams sharing one corpus, each
   * owning a disjoint id range: `shard` of `nShards` claims
   * `_lease.s<shard>of<n>`. Conflict rules (each checked here, making
   * every overlap loud):
   *  - a live foreign WHOLE-ROOT lease blocks every shard (maintenance
   *    passes and unsharded writers claim the full range);
   *  - a live foreign whole-root acquire is blocked by any live shard
   *    lease (see [[acquireLease]]) — so compaction cannot run under a
   *    live sharded fleet;
   *  - a live foreign shard lease under a DIFFERENT nShards blocks (two
   *    partitioning schemes overlap in unknowable ways);
   *  - the same (shard, nShards) follows the normal lease protocol
   *    (same-owner refresh, TTL stale-break, foreign = loud).
   * Same-shard writers are serialized exactly like the unsharded case.
   * Cross-shard near-duplicates are caught twice: the probe covers every
   * batch already committed at probe time, and the commit-mutex-serialized
   * delta re-probe ([[withCommitLock]], [[ingestBatch]]) covers
   * batches that commit between a batch's probe snapshot and its own
   * commit — so two in-flight batches racing on a cross-shard pair can no
   * longer both admit. The offline [[DedupIndex.recheckCorpus]] /
   * [[DedupIndex.recheckIncremental]] passes remain the backstop for
   * banded-recall stragglers (pairs LSH itself missed).
   */
  def acquireShardLease(spark: SparkSession, root: String, owner: String,
      shard: Int, nShards: Int, ttlMs: Long = 10 * 60 * 1000L): Unit = {
    require(nShards >= 1 && shard >= 0 && shard < nShards,
      s"shard must be in [0, nShards): got $shard of $nShards")
    val fs = fsFor(spark, root)
    liveHolderAt(fs, new Path(root, "_lease"), ttlMs).filter(_ != owner)
      .foreach(h => throw new IllegalStateException(
        s"$root is write-locked whole-root by '$h'; a shard writer cannot " +
          "start under a live whole-root lease"))
    // any live foreign shard lease under a DIFFERENT nShards: two
    // partitioning schemes overlap in unknowable ways
    def mixedSchemeConflict(): Option[(String, String)] = {
      val rootPath = new Path(root)
      if (!fs.exists(rootPath)) None
      else fs.listStatus(rootPath).iterator.flatMap { st =>
        st.getPath.getName match {
          case ShardLeaseName(_, n2) if st.isFile && n2.toInt != nShards =>
            liveHolderAt(fs, st.getPath, ttlMs).filter(_ != owner)
              .map(h => (st.getPath.getName, h))
          case _ => None
        }
      }.nextOption()
    }
    mixedSchemeConflict().foreach { case (name, h) =>
      throw new IllegalStateException(
        s"$root has a live shard lease $name (holder '$h') " +
          s"under a different scheme than $nShards shards — mixed shard " +
          "schemes overlap; drain the other fleet first")
    }
    acquireLeaseAt(fs, root, shardLeasePath(root, shard, nShards), owner, ttlMs)
    // symmetric double-check: a whole-root writer that claimed between
    // our check and our create must win (it asserted the full range) —
    // back the shard claim out and fail loudly
    liveHolderAt(fs, new Path(root, "_lease"), ttlMs).filter(_ != owner)
      .foreach { h =>
        releaseShardLease(spark, root, owner, shard, nShards)
        throw new IllegalStateException(
          s"$root lost the shard-claim race to whole-root writer '$h'; " +
            "retry once it releases")
      }
    // mixed-scheme double-check, same shape: two fleets started
    // concurrently under DIFFERENT nShards each pass the pre-create scan,
    // then both create their differently-named lease files — the later
    // creator necessarily sees the earlier one here and backs out. (Both
    // may back out if each sees the other — a safe fail-loud outcome;
    // what cannot happen any more is both RUNNING with overlapping id
    // ranges.)
    mixedSchemeConflict().foreach { case (name, h) =>
      releaseShardLease(spark, root, owner, shard, nShards)
      throw new IllegalStateException(
        s"$root lost the shard-claim race to mixed-scheme lease $name " +
          s"(holder '$h'); drain one fleet and retry the other")
    }
  }

  def releaseShardLease(spark: SparkSession, root: String, owner: String,
      shard: Int, nShards: Int): Unit =
    releaseLeaseAt(fsFor(spark, root), shardLeasePath(root, shard, nShards), owner)

  /** Run `body` under the root's writer lease with a fresh owner id —
   *  the wrapper every batch-entry writer uses. */
  def withLease[T](spark: SparkSession, root: String)(body: => T): T = {
    val owner = java.util.UUID.randomUUID().toString
    acquireLease(spark, root, owner)
    try body finally releaseLease(spark, root, owner)
  }

  /**
   * COMMIT MUTEX for concurrent sharded writers — serialize the short
   * adjudicate-and-publish step (NOT the heavy per-batch signing and
   * probing, which stays parallel): a short-TTL lease at
   * `root/_commitlock`, WAITED on rather than failed on, because
   * contention here is legitimate (N shards commit to one root by
   * design; the writer fences exist to make *unintended* concurrency
   * loud). Holding it, a writer's view of "batches committed before
   * mine" is total-ordered — the foundation of the cross-shard
   * in-flight dedup close ([[ingestBatch]]'s delta
   * re-probe). TTL bounds a crashed holder's obstruction; its
   * half-published batch is unmarked and replays. */
  def withCommitLock[T](spark: SparkSession, root: String,
      ttlMs: Long = 120000L, waitMs: Long = 600000L)(body: => T): T = {
    val fs = fsFor(spark, root)
    val owner = java.util.UUID.randomUUID().toString
    val p = new Path(root, "_commitlock")
    val deadline = System.currentTimeMillis() + waitMs
    var held = false
    while (!held) {
      try { acquireLeaseAt(fs, root, p, owner, ttlMs); held = true }
      catch {
        case _: IllegalStateException if System.currentTimeMillis() < deadline =>
          Thread.sleep(200)
      }
    }
    try body finally releaseLeaseAt(fs, p, owner)
  }

  // ------------------------------------------------------------------ ledger

  /** The batch id of seed writes, ad-hoc appends and collapsed ledger
   *  deltas: `ingest_batch=-1`. */
  private[graft] val SeedBatch = -1L

  /** A version directory's stats ledger: one long-form `(grp, counter,
   *  value)` delta per `ingest_batch=<B>/` child. */
  private[graft] def ledgerDir(dir: String): Path = new Path(dir, "_ledger")

  /** The ledgerBy table property, if the table maintains a ledger. */
  private[graft] def ledgerBy(spark: SparkSession, root: String): Option[String] =
    readMeta(spark, root).flatMap(_.get("ledgerBy"))

  /** One counter = the per-group row count of `rows`, long-form. */
  private[graft] def countLong(rows: DataFrame, grp: String, counter: String): DataFrame =
    rows.groupBy(col(grp).cast("string").as("grp"))
      .agg(count(lit(1)).as("value"))
      .select(col("grp"), lit(counter).as("counter"), col("value"))

  /** Stage + atomic-rename publish of one ledger delta into version dir
   *  `dir` (idempotent, like the data path). Deltas are sources ×
   *  counters rows — one file. */
  private[graft] def publishLedgerDelta(delta: DataFrame, dir: String, id: Long): Unit = {
    val spark = delta.sparkSession
    val ld = ledgerDir(dir)
    fsFor(spark, dir).mkdirs(ld)
    publishBatchDir(spark, ld.toString, id)(st =>
      delta.coalesce(1).write.mode("overwrite").parquet(st))
  }

  /** All deltas of a version dir's ledger, long-form; None = no ledger. */
  private[graft] def ledgerLong(spark: SparkSession, dir: String): Option[DataFrame] = {
    val ld = ledgerDir(dir)
    if (!fsFor(spark, dir).exists(ld)) None
    else Some(spark.read.parquet(ld.toString)
      .select(col("grp"), col("counter"), col("value")))
  }

  /** Carry the live version's ledger, plus `adjust`, into a staged
   *  maintenance rewrite as ONE collapsed seed delta (same totals). A
   *  version without ledger deltas carries nothing: an adjustment alone
   *  would turn the card's loud "damaged" error into negative counts. */
  private[graft] def carryLedger(spark: SparkSession, liveDir: String,
      staging: Path, adjust: Option[DataFrame] = None): Unit =
    ledgerLong(spark, liveDir).foreach { lf =>
      val collapsed = adjust.fold(lf)(lf.unionByName(_))
        .groupBy("grp", "counter").agg(sum(col("value")).as("value"))
        .select("grp", "counter", "value")
      publishLedgerDelta(collapsed, staging.toString, SeedBatch)
    }

  /**
   * The per-group card, READ FROM THE LEDGER — O(committed batches ×
   * groups × counters) rows, no table scan. One wide row per value of the
   * table's `ledgerBy` column, one column per entry of `counters` (a
   * family's own list); missing counters fold to 0. Loud on an unledgered
   * table: a silent empty card would read as "clean". `seedFn`/`enableFn`
   * name the family's entry points for the error text.
   */
  private[graft] def ledgerCard(spark: SparkSession, root: String,
      counters: Seq[String], seedFn: String, enableFn: String): DataFrame = {
    val grpName = ledgerBy(spark, root).getOrElse(
      throw new IllegalStateException(
        s"$root maintains no stats ledger — seed with " +
          s"$seedFn(..., ledgerBy = <col>) or migrate with $enableFn"))
    val lf = ledgerLong(spark, resolve(spark, root)).getOrElse(
      throw new IllegalStateException(
        s"$root declares ledgerBy=$grpName but has no _ledger deltas — " +
          s"the table is damaged; re-run $enableFn to rebuild"))
    val aggs = counters.map(c =>
      sum(when(col("counter") === c, col("value")).otherwise(0L)).as(c))
    lf.groupBy("grp").agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("grp", grpName)
      .orderBy(grpName)
  }

  /** Migrate a live unledgered table to ledger maintenance: `seedDelta`
   *  (one recompute over the CURRENT table) becomes the collapsed seed
   *  delta, and the `ledgerBy` meta property turns every later ingest
   *  incremental. Drop-history counters start at 0 — the history before
   *  enablement was never recorded. */
  private[graft] def enableLedger(spark: SparkSession, root: String,
      ledgerByCol: String, seedFn: String)(seedDelta: => DataFrame): Unit =
    withLease(spark, root) {
      val meta = readMeta(spark, root).getOrElse(
        throw new IllegalStateException(
          s"$root has no _meta.json — seed it through $seedFn first"))
      val dir = resolve(spark, root)
      val fs = fsFor(spark, root)
      val ld = ledgerDir(dir)
      if (fs.exists(ld)) fs.delete(ld, true)
      publishLedgerDelta(seedDelta, dir, SeedBatch)
      writeMeta(spark, root, meta + ("ledgerBy" -> ledgerByCol))
    }

  // ------------------------------------------------------ exactly-once ingest

  private def batchMarker(root: String, batchId: Long): Path =
    new Path(root, s"_committed/batch-$batchId")

  /** The batch ids published under `dir` (its `ingest_batch=<id>` children). */
  private def listBatchIds(fs: FileSystem, dir: String): Set[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .flatMap(_.stripPrefix("ingest_batch=").toLongOption).toSet
  }

  /** Stage `dir/_staging_<id>` through `stage` (which writes in overwrite
   *  mode, clobbering a dead attempt's partial staging), then publish it
   *  with one atomic rename to `dir/ingest_batch=<id>`. A no-op when the
   *  target is already published, so a replay cannot double-append. */
  private[graft] def publishBatchDir(spark: SparkSession, dir: String, id: Long)(
      stage: String => Unit): Unit = {
    val fs = fsFor(spark, dir)
    val target = new Path(dir, s"ingest_batch=$id")
    if (fs.exists(target)) return
    val staging = new Path(dir, s"_staging_$id")
    stage(staging.toString)
    if (!fs.rename(staging, target))
      throw new IllegalStateException(s"publish rename $staging -> $target failed")
  }

  /**
   * What a table family supplies to [[ingestBatch]] for one batch: how
   * candidates are found and verified, and how admitted rows are laid out
   * on disk. Built under the batch's leases, after the family validated
   * its parameters and resolved its live version directories. Text tables
   * probe banded MinHash keys and verify by shingle Jaccard; vector tables
   * probe IVF lists and verify by cosine.
   *
   * @param b the batch's rows, deduplicated by id and cached
   */
  private[graft] abstract class Admission(val b: DataFrame) {
    /** The live directory whose `ingest_batch=<id>` children are the
     *  committed batches the probe reads. */
    def probeDir: String
    /** The live directories whose `ingest_batch=<batchId>` child a
     *  crashed attempt may have left unmarked — a replay un-publishes
     *  these first. */
    def batchDirs: Seq[String]
    /** The live version directory whose `_ledger` takes the batch's delta. */
    def ledgerIn: String
    /** Ids of `b` that near-duplicate a smaller id of `b`. */
    def inBatchDrops: DataFrame
    /** Ids of `b` that near-duplicate a committed row. */
    def crossDrops: DataFrame
    /** Ids of `admitted` that near-duplicate rows of the committed batches
     *  `delta` (sorted); None when no such pair can exist. */
    def reprobe(admitted: DataFrame, delta: Seq[Long]): Option[DataFrame]
    /** Write the `n` (> 0) admitted rows: staged and renamed to
     *  `ingest_batch=<batchId>`, or appended to the seed batch for an
     *  ad-hoc (batchId < 0) ingest. */
    def publish(admitted: DataFrame, n: Long): Unit
    /** The admitted rows' ledger counters, long-form. */
    def admittedStats(admitted: DataFrame, grp: String): DataFrame
    /** Free the family's own per-batch caches. */
    def release(): Unit = ()
  }

  /** Test seam: runs after the probe snapshot is materialized and before
   *  the commit section — a spec injects a concurrent shard's commit here
   *  to exercise the cross-shard delta re-probe deterministically. A
   *  no-op in production. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  /** Take the whole-root (`nShards <= 1`) or shard lease on each root in
   *  order; on failure release the ones already taken. */
  private def acquireAll(spark: SparkSession, roots: Seq[String], owner: String,
      shard: Int, nShards: Int): Unit =
    roots.indices.foreach { i =>
      try {
        if (nShards <= 1) acquireLease(spark, roots(i), owner)
        else acquireShardLease(spark, roots(i), owner, shard, nShards)
      } catch { case e: Throwable =>
        releaseAll(spark, roots.take(i), owner, shard, nShards); throw e
      }
    }

  private def releaseAll(spark: SparkSession, roots: Seq[String], owner: String,
      shard: Int, nShards: Int): Unit =
    roots.reverseIterator.foreach { r =>
      if (nShards <= 1) releaseLease(spark, r, owner)
      else releaseShardLease(spark, r, owner, shard, nShards)
    }

  /**
   * One micro-batch of an at-rest ingest loop: dedup `batch` within itself
   * and against the committed table, publish the survivors, return the
   * admitted count. `roots` are leased in order; the first holds the
   * sharded commit mutex, the last the `_committed` markers and (in its
   * live version) the ledger. `admit` receives the table's `ledgerBy`
   * property and returns the family's [[Admission]].
   *
   * Within-batch semantics are the greedy local rule: a row drops when it
   * is the strictly-LARGER member of any verified pair.
   *
   * Delivery with `batchId >= 0` is EXACTLY-ONCE: each data dir's batch
   * stages under `_staging_<batchId>` and publishes with one atomic
   * rename to `ingest_batch=<batchId>`, then the ledger delta, then a
   * `_committed/batch-<batchId>` marker holding the admitted count. A
   * replay short-circuits on the marker (a corrupt one means NOT
   * committed); a replay after a partial crash first un-publishes the
   * batch's unmarked dirs, so its probe sees the exact pre-attempt state
   * and the admit decision is the same. A batchId below the
   * compacted-marker watermark fails loudly. `batchId < 0` is the plain
   * at-least-once append for direct one-shot callers, refused up front
   * on a ledgered table (no replay identity, so its delta could
   * double-count).
   *
   * Writer fencing: the call runs under each root's lease (`leaseOwner`
   * null = a transient per-call owner; a stream passes its lifetime
   * owner, which refreshes rather than re-claims). A sharded writer
   * (`nShards > 1`) holds shard leases, rejects rows outside its id range
   * `pmod(xxhash64(id), nShards) = shard` loudly, and commits under the
   * first root's commit mutex: holding it, the batch re-probes exactly
   * the batches whose markers appeared since its probe snapshot, and on a
   * hit ITS member drops (the committed side is immutable). Two in-flight
   * batches racing on a cross-shard pair therefore cannot both admit.
   * Unsharded writers skip the mutex: their whole-root lease already
   * excludes concurrency.
   */
  private[graft] def ingestBatch(batch: DataFrame, roots: Seq[String], idCol: String,
      batchId: Long, leaseOwner: String, shard: Int, nShards: Int)(
      admit: Option[String] => Admission): Long = {
    val spark = batch.sparkSession
    val root = roots.last
    val fs = fsFor(spark, root)
    val marker = batchMarker(root, batchId)
    if (batchId >= 0 && fs.exists(marker)) {
      utf8(readFile(fs, marker)).trim.toLongOption match {
        case Some(n) => return n
        case None => fs.delete(marker, false)
      }
    }
    if (batchId >= 0) failIfBelowWatermark(fs, root, batchId)
    val owner = Option(leaseOwner).getOrElse(java.util.UUID.randomUUID().toString)
    acquireAll(spark, roots, owner, shard, nShards)
    try StageCoalesce.sizeBased(spark) {
      val grp = ledgerBy(spark, root)
      if (grp.isDefined && batchId < 0)
        throw new IllegalArgumentException(
          s"$root maintains an exactly-once stats ledger, which an ad-hoc " +
            "(batchId < 0) append cannot honor — pass a stable batchId >= 0 " +
            "(or ingest through a stream)")
      grp.foreach(g => require(batch.columns.contains(g),
        s"ledger maintenance requires column '$g' ($root/_meta.json declares " +
          s"ledgerBy=$g); got ${batch.columns.mkString("[", ", ", "]")}"))
      val adm = admit(grp)
      val b = adm.b
      if (batchId >= 0) adm.batchDirs.foreach { d =>
        val p = new Path(d, s"ingest_batch=$batchId")
        val dfs = fsFor(spark, d)
        if (dfs.exists(p)) dfs.delete(p, true)
      }
      if (nShards > 1) {
        val nOutside = b.filter(
          pmod(xxhash64(col(idCol)), lit(nShards.toLong)) =!= shard).count()
        if (nOutside > 0)
          throw new IllegalStateException(
            s"$nOutside batch rows fall outside shard $shard of $nShards " +
              s"(pmod(xxhash64($idCol), $nShards)); route every row to its " +
              "owning shard's stream — the sharded streams filter automatically")
      }
      // localCheckpoint on the drop sets: tiny frames whose LINEAGE is the
      // whole dedup/probe machinery; the admit anti-join, the ledger counts
      // and the sharded commit's unions would each re-plan it otherwise
      val inDrop = adm.inBatchDrops.localCheckpoint(true)
      // snapshot of the committed batch dirs, taken before the probe: the
      // sharded commit re-probes the batches that commit after this point
      val pfs = fsFor(spark, adm.probeDir)
      val snapshot = listBatchIds(pfs, adm.probeDir)
      val crossDrop =
        if (snapshot.isEmpty) b.select(col(idCol)).limit(0)
        else adm.crossDrops.localCheckpoint(true)
      // materialized HERE: the heavy probing finishes before the
      // (serialized) commit section, whose queries plan against a leaf. A
      // lost block just replays the batch, which the protocol allows.
      val admitted0 = b.join(inDrop.unionByName(crossDrop).distinct(),
          Seq(idCol), "left_anti")
        .localCheckpoint(true)
      onBeforeCommit()

      def publish(admitted: DataFrame, crossDropAll: DataFrame): Long = {
        val n = admitted.count()
        if (n > 0) adm.publish(admitted, n)
        // the ledger delta publishes AFTER the data, BEFORE the marker: a
        // crash in between replays the whole batch, so card and table can
        // never disagree. An all-dropped batch publishes too (its drop
        // counters are real).
        grp.foreach { g =>
          val crossOnly = crossDropAll.join(inDrop, Seq(idCol), "left_anti")
          val delta = adm.admittedStats(admitted, g)
            .unionByName(countLong(b.join(inDrop, Seq(idCol), "left_semi"),
              g, "n_dropped_batch"))
            .unionByName(countLong(b.join(crossOnly, Seq(idCol), "left_semi"),
              g, "n_dropped_cross"))
          publishLedgerDelta(delta, adm.ledgerIn, batchId)
        }
        if (batchId >= 0) writeFile(fs, marker, utf8(n.toString))
        n
      }

      val n =
        if (nShards <= 1) publish(admitted0, crossDrop)
        else withCommitLock(spark, roots.head) {
          val delta = (listBatchIds(pfs, adm.probeDir) -- snapshot - batchId)
            .filter(id => fs.exists(batchMarker(root, id)))
          (if (delta.isEmpty) None else adm.reprobe(admitted0, delta.toSeq.sorted)) match {
            case None => publish(admitted0, crossDrop)
            case Some(more0) =>
              val more = more0.persist(StorageLevel.MEMORY_AND_DISK_SER)
              val admitted = admitted0.join(more, Seq(idCol), "left_anti")
                .persist(StorageLevel.MEMORY_AND_DISK_SER)
              val out = publish(admitted, crossDrop.unionByName(more).distinct())
              admitted.unpersist(blocking = false)
              more.unpersist(blocking = false)
              out
          }
        }
      adm.release()
      admitted0.unpersist(blocking = false)
      b.unpersist(blocking = false)
      n
    } finally if (leaseOwner == null) releaseAll(spark, roots, owner, shard, nShards)
  }

  /**
   * The streaming wrapper: every micro-batch of `input` flows through
   * `ingest(batch, batchId, leaseOwner)` with its foreachBatch id, making
   * the loop exactly-once end to end (state lives in the at-rest roots,
   * not in Spark streaming state — it survives restarts and is shared
   * with batch probes).
   *
   * Holds each root's writer lease for the STREAM's lifetime, so a second
   * concurrent writer fails at start(). The owner derives from the
   * checkpoint path, so a restart on the same checkpoint re-claims its own
   * lease; the lease releases on query termination (and goes stale by TTL
   * if the Spark driver dies hard). A sharded stream (`nShards > 1`) holds
   * shard leases, filters its input to `pmod(xxhash64(idCol), nShards) =
   * shard` (so all shards can consume one source) and numbers its batches
   * `id × nShards + shard`, so batch dirs, markers, bloom tags and ledger
   * deltas never collide across shards.
   */
  private[graft] def ingestStream(input: DataFrame, roots: Seq[String],
      checkpointPath: String, idCol: String, shard: Int = 0, nShards: Int = 1)(
      ingest: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val spark = input.sparkSession
    val owner = s"ckpt:$checkpointPath"
    acquireAll(spark, roots, owner, shard, nShards)
    def release(): Unit = releaseAll(spark, roots, owner, shard, nShards)
    val own = if (nShards <= 1) input
      else input.filter(pmod(xxhash64(col(idCol)), lit(nShards.toLong)) === shard)
    val query =
      try own.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch((b: DataFrame, id: Long) => ingest(b, id * nShards + shard, owner))
        .start()
      catch { case e: Throwable => release(); throw e }
    val qid = query.id
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qid) {
          release()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // a query that died BEFORE the listener registered never gets its
    // termination event — release now instead of waiting out the TTL
    if (!query.isActive) {
      release()
      spark.streams.removeListener(listener)
    }
    query
  }

  // ----------------------------------------------------------------- recheck

  /** A committed recheck pass's recorded outcome: removed count, the
   *  highest batch it covered, and the window START it actually ran
   *  from (0 = provably adjudicated everything below its coverage —
   *  what a frontier bootstrap may safely resume past; a caller-driven
   *  window start > 0 proves nothing about the batches below it). */
  private case class RecheckMarker(removed: Long, coveredUpTo: Long, since: Long)

  private def recheckMarker(root: String, recheckId: Long): Path =
    new Path(root, s"_committed/recheck-$recheckId")

  /** Parse a committed recheck marker; an unparsable one is deleted
   *  (= NOT committed), mirroring the batch-marker contract. */
  private def recheckMarkerInfo(fs: FileSystem, root: String,
      recheckId: Long): Option[RecheckMarker] = {
    val marker = recheckMarker(root, recheckId)
    if (!fs.exists(marker)) return None
    utf8(readFile(fs, marker)).trim.split("\\s+").toSeq.map(_.toLongOption) match {
      case Seq(Some(n), Some(cov), Some(since)) => Some(RecheckMarker(n, cov, since))
      case _ => fs.delete(marker, false); None
    }
  }

  /** The highest batch id with committed history under `root`: max over
   *  the per-batch markers, floored by the compaction watermark (whose
   *  markers are gone but were committed). -1 for a seed-only table. */
  private def maxCommittedBatch(fs: FileSystem, root: String): Long = {
    val dir = new Path(root, "_committed")
    val fromMarkers =
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).iterator.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("batch-")) nm.drop(6).toLongOption else None
      }.maxOption
    val fromWatermark = markerWatermark(fs, root).map(_ - 1)
    (fromMarkers.toSeq ++ fromWatermark.toSeq).maxOption.getOrElse(-1L)
  }

  private def frontierPath(root: String) = new Path(root, "_committed/recheck-frontier")

  /** The persisted incremental-recheck frontier: `(nextSince, nextId)` —
   *  the first batch id not yet adjudicated and the next recheck id. */
  private def readFrontier(fs: FileSystem, root: String): Option[(Long, Long)] = {
    val p = frontierPath(root)
    if (!fs.exists(p)) None
    else {
      val toks = utf8(readFile(fs, p)).trim.split("\\s+").toSeq
      (toks.headOption.flatMap(_.toLongOption),
        toks.lift(1).flatMap(_.toLongOption)) match {
        case (Some(since), Some(id)) => Some((since, id))
        case _ => throw new IllegalStateException(
          s"$p is unparsable — restore it to '<nextSince> <nextRecheckId>' " +
            "or delete it to restart the frontier from batch 0")
      }
    }
  }

  /**
   * One EXACTLY-ONCE recheck pass over the batches `>= sinceBatch`: a
   * committed `_committed/recheck-<recheckId>` marker short-circuits with
   * its recorded count; otherwise `sweep(window)` runs under the root's
   * lease and its count lands in the marker. `window` is `sinceBatch`, or
   * None (= the whole table) when it starts below the collapse frontier:
   * maintenance folded those batch dirs into the seed, so they cannot be
   * scoped by dir and the one pass full-sweeps (the next window starts
   * past the coverage and is incremental again). The marker records the
   * highest committed batch — snapshotted under the lease, so no ingest
   * can commit during the pass — and the window the pass actually ran
   * from (a full sweep covers from 0).
   */
  private[graft] def recheckSince(spark: SparkSession, root: String, sinceBatch: Long,
      recheckId: Long)(sweep: Option[Long] => Long): Long = {
    require(recheckId >= 0, s"recheckId must be >= 0, got $recheckId")
    val fs = fsFor(spark, root)
    recheckMarkerInfo(fs, root, recheckId) match {
      case Some(m) => return m.removed
      case None => // absent or unparsable (the latter deleted) — run
    }
    StageCoalesce.sizeBased(spark)(withLease(spark, root) {
      val coveredUpTo = maxCommittedBatch(fs, root)
      val window = if (sinceBatch < collapseFrontier(fs, root)) None else Some(sinceBatch)
      val n = sweep(window)
      writeFile(fs, recheckMarker(root, recheckId),
        utf8(s"$n $coveredUpTo ${window.getOrElse(0L)}"))
      n
    })
  }

  /**
   * [[recheckSince]] with ZERO caller bookkeeping — the cron-shaped entry:
   * `pass(sinceBatch, recheckId)` runs with both derived from the
   * persisted `_committed/recheck-frontier` (absent = adjudicate
   * everything since batch 0, next id after any existing recheck
   * markers), and the frontier advances afterwards. The advance is
   * REPLAY-SAFE because it derives from the recheck marker's own recorded
   * coverage, not from re-listing: a crash between the recheck's commit
   * and the frontier write re-runs with the same id, short-circuits on
   * the marker, and advances to exactly the range that marker covered —
   * batches ingested after the crash stay ahead of the frontier for the
   * NEXT pass, never skipped.
   */
  private[graft] def recheckIncremental(spark: SparkSession, root: String)(
      pass: (Long, Long) => Long): Long = {
    val fs = fsFor(spark, root)
    val (since, id) = readFrontier(fs, root).getOrElse {
      val dir = new Path(root, "_committed")
      val maxExisting =
        if (!fs.exists(dir)) None
        else fs.listStatus(dir).iterator.flatMap { st =>
          val nm = st.getPath.getName
          if (nm.startsWith("recheck-") && nm != "recheck-frontier")
            nm.drop(8).toLongOption
          else None
        }.maxOption
      // bootstrap after existing markers (a crash between the marker
      // write and the first frontier write lands here): resume past the
      // LATEST marker only when it PROVABLY covered everything below
      // (window start 0 + recorded coverage); a caller-driven window
      // starting above 0 proves nothing about the batches below it, so
      // restart from 0 (idempotent re-adjudication, never a skip)
      maxExisting match {
        case Some(mid) =>
          recheckMarkerInfo(fs, root, mid) match {
            case Some(RecheckMarker(_, cov, 0L)) => (cov + 1L, mid + 1L)
            case _ => (0L, mid + 1L)
          }
        case None => (0L, 0L)
      }
    }
    val n = pass(since, id)
    val nextSince = recheckMarkerInfo(fs, root, id).getOrElse(
      throw new IllegalStateException(
        s"recheck-$id committed but its marker is unreadable")).coveredUpTo + 1L
    writeFile(fs, frontierPath(root), utf8(s"$nextSince ${id + 1L}"))
    n
  }
}
