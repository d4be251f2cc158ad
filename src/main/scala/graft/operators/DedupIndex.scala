package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{SketchFunctions, TextFunctions}

/**
 * At-rest MinHash-LSH dedup index — the INCREMENTAL half of [[Dedup]].
 *
 * [[Dedup.nearDuplicates]] answers "which pairs inside this frame are
 * near-dups" and re-signs the whole corpus every run. A growing corpus
 * needs the other shape: dedup each ARRIVING batch against everything
 * already accepted, without rescanning (or even re-reading) the accepted
 * corpus. Same pattern as `Similarity.ivfWriteAtRest`: pay one layout
 * write, then every probe is partition-pruned.
 *
 * Both at-rest tables are ID-ADDRESSABLE layouts:
 *
 *  - the INDEX stores banded LSH keys `(band, bucket, id)` partitioned on
 *    `bucket_part = pmod(xxhash64(band, bucket), nParts)`. Text and
 *    signatures stay OUT of it — it is O(bands) longs per document.
 *  - the CORPUS stores the accepted documents partitioned on
 *    `id_part = pmod(xxhash64(id), corpusParts)`, so a probe's
 *    candidate-TEXT fetch prunes to the candidate ids' partitions the
 *    same way the index probe prunes to the batch's bucket partitions —
 *    steady-state ingest I/O is batch-proportional on BOTH scans.
 *
 * [[probeAtRest]] signs only the batch, derives the touched partition
 * keys (bounded collects of at most nParts / corpusParts layout keys,
 * never data), and scans ONLY those partition directories. Candidates
 * verify with exact word-shingle Jaccard. A bloom-filter sidecar over the
 * index's (band, bucket) keys (`_bloom/`, maintained by every write)
 * short-circuits the index read entirely when a batch shares no bucket
 * with the index — the common case for mostly-novel streams.
 *
 * At 100 TB: the index is ~1% of corpus bytes, a small batch touches a
 * subset of its partitions (a single doc at most `bands` of them), and
 * the accepted corpus is read only in the candidate ids' partitions —
 * the steady-state ingest cost is proportional to the batch, not the
 * corpus.
 *
 * Both tables are SELF-DESCRIBING and VERSIONED (see [[AtRest]]):
 * `_meta.json` persists the signature/layout parameters and every
 * probe/append/maintenance entry point validates against it — a
 * parameter mismatch is a LOUD typed error, not silent zero collisions;
 * maintenance rewrites ([[compact]]/[[compactCorpus]]/[[recheckCorpus]])
 * stage a complete new version directory and swap a pointer file with
 * one atomic rename, so a reader racing the swap sees the old or the
 * new table, never a mix. Readers outside this object go through
 * [[readCorpus]]/[[readIndex]] (raw root reads fail loudly by design).
 *
 * Concurrency boundary: ONE writer, now ENFORCED by a lease file
 * (`_lease`, [[AtRest.acquireLease]]) — a second concurrent writer
 * fails loudly instead of corrupting. [[ingestStream]] holds the lease
 * for the stream's lifetime (released on termination, broken by TTL
 * after a crash); batch entry points fence per call. Concurrent READERS
 * are safe at file granularity — batch publishes are single directory
 * renames, maintenance swaps retain the replaced version for one
 * generation — but a probe racing a publish may miss the newest batch's
 * keys (the same window any ingest pipeline has).
 * [[compact]]/[[compactCorpus]] remain OFFLINE maintenance passes:
 * quiesce the stream first (the lease makes forgetting that loud).
 */
object DedupIndex {

  // ---------------------------------------------------------------- layout

  /** The banded LSH key stream of `docs`: (bucket_part, band, bucket, id),
   *  scan-local except the final layout column. Shared by the write, append
   *  and probe paths so key derivation cannot drift between them. */
  /** Per-doc MinHash signature frame `(id, sig)` — THE signing pass, the
   *  dominant scan-local cost of every dedup path (shingle + minhash
   *  kernels over the full text). Factored out so the signatures can be
   *  persisted at rest beside the index and never recomputed for
   *  already-admitted documents (r17 verdict item 4). */
  private def sigFrame(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleWords: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      Dedup.signatureFromShingles(
        TextFunctions.wordShingles(col(textCol), shingleWords), numHashes).as("sig"))

  /** Banded (bucket_part, band, bucket, id) keys from a `(id, sig)`
   *  signature frame — pure arithmetic, no text access. */
  private def bandedKeysFromSigs(sigs: DataFrame, bands: Int, rows: Int,
      nParts: Int): DataFrame =
    sigs.select(col("id"),
        posexplode(Dedup.bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))
      .withColumn("bucket_part", pmod(xxhash64(col("band"), col("bucket")), lit(nParts)))
      .select("bucket_part", "band", "bucket", "id")

  private def bandedKeys(docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleWords: Int, nParts: Int): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    bandedKeysFromSigs(sigFrame(docs, textCol, idCol, numHashes, shingleWords),
      bands, numHashes / bands, nParts)
  }

  private def capBuckets(banded: DataFrame, maxBucket: Int): DataFrame = {
    val ok = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket)
      .select("band", "bucket")
    banded.join(ok, Seq("band", "bucket"))
      .select("bucket_part", "band", "bucket", "id")
  }

  /** The corpus layout column: `id_part = pmod(xxhash64(id), nParts)`.
   *  xxhash64 is type-sensitive — the probe recomputes this from the
   *  index's `id` column, which carries the corpus id's stored type, so
   *  write and probe always hash the same representation. */
  private def withIdPart(docs: DataFrame, idCol: String, nParts: Int): DataFrame =
    docs.withColumn("id_part", pmod(xxhash64(col(idCol)), lit(nParts)))

  // Both at-rest tables nest `ingest_batch=<n>/<layout>=<p>/` so a batch
  // publish is ONE atomic directory rename (`ingest_batch=<batchId>`);
  // seed writes and ad-hoc appends use batch -1. Underscore-prefixed
  // siblings (_staging_*, _bloom, _committed, _v<N>, _meta.json, _lease)
  // are invisible to parquet partition discovery.
  private[graft] val SeedBatch = -1L

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    AtRest.fsFor(spark, path)

  /** Stage `df` under `dir/_staging_<batchId>` (partitioned by
   *  `layoutCol`), then publish it with one atomic rename to
   *  `dir/ingest_batch=<batchId>`. Idempotent: an already-published
   *  target makes this a no-op, so a replayed micro-batch cannot
   *  double-append. Overwrite mode clobbers a dead attempt's partial
   *  staging. */
  private def publishBatchDir(df: DataFrame, dir: String, layoutCol: String,
      batchId: Long, alsoStage: Path => Unit = _ => ()): Unit = {
    val fs = fsFor(df.sparkSession, dir)
    val target = new Path(dir, s"ingest_batch=$batchId")
    if (fs.exists(target)) return
    val staging = new Path(dir, s"_staging_$batchId")
    df.write.partitionBy(layoutCol).mode("overwrite").parquet(staging.toString)
    // extra sidecars (e.g. the batch's `_sigs`) land INSIDE the staging
    // dir so they publish in the same atomic rename
    alsoStage(staging)
    if (!fs.rename(staging, target))
      throw new IllegalStateException(s"publish rename $staging -> $target failed")
  }

  /** Cluster `df` before a `partitionBy(layoutCol)` write so FILE COUNT
   *  tracks DATA SIZE instead of the session's task count (guide §6):
   *  without this, every write task emits one file per layout value it
   *  holds — a micro-batch published up to tasks × nParts near-empty
   *  files (measured at sf0.1: 128 files for 1 MB of index keys PER
   *  BATCH), and every later probe/recheck/compact scan pays the
   *  per-file open cost forever. Rows hash into
   *  `lanes = ceil(rows / rowsPerFile)` deterministic salt lanes
   *  (xxhash64 of `saltCol` — never rand(), guide §2.5/SPARK-38388), so
   *  a small batch writes ~1 file per touched partition dir and a large
   *  one scales file count linearly with rows. `rowsPerFile` is the
   *  conf-tunable scale knob (`graft.atRest.keyRowsPerFile` /
   *  `docRowsPerFile`); the local defaults are production-shaped
   *  targets (~100-300 MB files), not local[32] constants. */
  private def clusterForWrite(df: DataFrame, layoutCol: String,
      saltCol: String, rows: Long, rowsPerFile: Long): DataFrame = {
    val lanes = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)
    val nTasks = math.min(lanes * 16L, 100000L).toInt
    df.repartition(nTasks, col(layoutCol),
      pmod(xxhash64(col(saltCol)), lit(lanes)))
  }

  private def keyRowsPerFile(spark: SparkSession): Long =
    spark.conf.getOption("graft.atRest.keyRowsPerFile").map(_.toLong)
      .getOrElse(4000000L) // 4M (part, band, bucket, id) rows ≈ 150 MB
  private def docRowsPerFile(spark: SparkSession): Long =
    spark.conf.getOption("graft.atRest.docRowsPerFile").map(_.toLong)
      .getOrElse(65536L) // 64k multi-KB documents ≈ 100-300 MB
  private def sigRowsPerFile(spark: SparkSession): Long =
    spark.conf.getOption("graft.atRest.sigRowsPerFile").map(_.toLong)
      .getOrElse(1000000L) // 1M (id, 32-hash sig) rows ≈ 150 MB

  // ---------------------------------------------------- signature sidecar

  /** At-rest MinHash signatures (r17 verdict item 4): every admitted
   *  document's `(id, sig)` row persists beside its index keys —
   *  `_sigs/` inside the version dir (seed / recheck rebuild / compact
   *  carry) and inside each `ingest_batch=<n>/` dir (published in the
   *  batch's atomic rename, so exactly-once replay covers them; the
   *  at-least-once append paths use append mode and readers dedup by
   *  id — signatures are deterministic, so duplicates are identical).
   *  Underscore-prefixed, so corpus/index partition discovery never sees
   *  them. Consumers (recheckCorpus) semi-join the sigs to the CURRENT
   *  corpus ids and recompute any missing doc, so a doc the index never
   *  signed, a null id, or tombstoned ghosts cost only the
   *  fallback compute, never correctness. Parameter invalidation rides
   *  `_meta.json`: [[readSigs]] returns None unless the index's
   *  (numHashes, shingleWords) match the caller's — a plane change
   *  invalidates every signature at once. */
  private val SigsDir = "_sigs"

  private def writeSigs(sigs: DataFrame, dir: String, rows: Long,
      append: Boolean = false): Unit = {
    val spark = sigs.sparkSession
    val lanes = math.max(1L,
      (rows + sigRowsPerFile(spark) - 1) / sigRowsPerFile(spark))
    // one lane (micro-batches, small seeds): coalesce — no exchange, one
    // file; many lanes: deterministic hash lanes for even file sizes
    val laid = if (lanes == 1L) sigs.coalesce(1)
      else sigs.repartition(lanes.toInt, pmod(xxhash64(col("id")), lit(lanes)))
    laid.write.mode(if (append) "append" else "overwrite")
      .parquet(new Path(dir, SigsDir).toString)
  }

  /** Every `_sigs` sidecar of the index's current version (see
   *  [[SigsDir]]), or None when the index is absent, predates signature
   *  persistence, or was signed under different (numHashes,
   *  shingleWords). Rows may repeat an id (at-least-once appends) —
   *  callers dedup. */
  private def readSigs(spark: SparkSession, indexPath: String,
      numHashes: Int, shingleWords: Int): Option[DataFrame] = {
    val fs = fsFor(spark, indexPath)
    if (!fs.exists(new Path(indexPath))) return None
    val meta = AtRest.readMeta(spark, indexPath).getOrElse(Map.empty)
    if (!meta.get("numHashes").contains(numHashes.toString) ||
        !meta.get("shingleWords").contains(shingleWords.toString)) return None
    val dir = new Path(AtRest.resolve(spark, indexPath))
    if (!fs.exists(dir)) return None
    val roots = new Path(dir, SigsDir) +:
      fs.listStatus(dir).filter(_.getPath.getName.startsWith("ingest_batch="))
        .map(st => new Path(st.getPath, SigsDir)).toSeq
    val present = roots.filter(fs.exists)
    if (present.isEmpty) None
    else Some(spark.read.parquet(present.map(_.toString): _*))
  }

  /** Every `_sigs` sidecar path under a resolved version dir (no
   *  parameter check — for maintenance passes that carry signatures
   *  into a new version of the same table). */
  private def sigPathsIn(fs: FileSystem, dir: Path): Seq[Path] = {
    if (!fs.exists(dir)) return Seq.empty
    val roots = new Path(dir, SigsDir) +:
      fs.listStatus(dir).filter(_.getPath.getName.startsWith("ingest_batch="))
        .map(st => new Path(st.getPath, SigsDir)).toSeq
    roots.filter(fs.exists)
  }

  // ------------------------------------------------------------ meta sidecar

  private def indexMeta(numHashes: Int, bands: Int, shingleWords: Int,
      nParts: Int, maxBucket: Int): Map[String, String] = Map(
    "kind" -> "lsh_index", "numHashes" -> numHashes.toString,
    "bands" -> bands.toString, "shingleWords" -> shingleWords.toString,
    "nParts" -> nParts.toString, "maxBucket" -> maxBucket.toString)

  private def corpusMeta(idCol: String, corpusParts: Int): Map[String, String] = Map(
    "kind" -> "dedup_corpus", "idCol" -> idCol,
    "corpusParts" -> corpusParts.toString)

  /** The corpus keeps every batch column, so a batch whose columns DRIFT
   *  from the recorded set would silently corrupt later reads:
   *  `spark.read.parquet` without mergeSchema takes the schema from a
   *  sampled file, so a column present in only some ingest_batch dirs
   *  appears or vanishes depending on which file gets sampled. The column
   *  SET (sorted; order drift is harmless — parquet reads by name) is a
   *  table property like idCol, validated per batch, adopted from the
   *  first writer. */
  private def requireNoLayoutCols(df: DataFrame, what: String): Unit = {
    val clash = df.columns.toSet.intersect(Set("id_part", "ingest_batch"))
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"$what carries reserved layout column(s) ${clash.mkString(", ")} — " +
          "these are the corpus's own partition columns; rename them in the batch")
  }

  private def validateCorpusColumns(spark: SparkSession, corpusPath: String,
      idCol: String, corpusParts: Int, batchCols: Seq[String]): Unit = {
    val cols = batchCols.sorted.mkString(",")
    AtRest.validateOrAdoptMeta(spark, corpusPath,
      corpusMeta(idCol, corpusParts) + ("columns" -> cols))
  }

  // ------------------------------------------------------------------ ledger

  /**
   * INCREMENTAL corpus-stats ledger — the per-source release-card
   * counters maintained AT REST, updated batch-proportionally by the
   * ingest loop instead of recomputed corpus-wide per report (the last
   * full-corpus sweep in an otherwise incremental pipeline; at 100 TB a
   * weekly card re-reading every byte dwarfs the ingest itself).
   *
   * Enablement is a TABLE property: [[writeCorpus]] with `ledgerBy`
   * records the grouping column in `_meta.json` and seeds the first
   * delta; every later [[ingestBatch]] sees the property and maintains
   * the ledger with no caller cooperation (a caller can't "forget" it and
   * silently skew the card). Unledgered corpora switch over through
   * [[enableLedger]] (one full recompute, then incremental forever).
   *
   * Layout: `<versionDir>/_ledger/ingest_batch=<B>/` holds one LONG-FORM
   * delta `(grp, counter, value)` per committed batch — staged and
   * published with the same atomic-rename + `_committed`-marker protocol
   * as the batch's data (ledger publishes BEFORE the marker, so a crash
   * between them replays and rewrites both), which makes the card
   * exactly-once under replay. Living inside the version directory, the
   * ledger swaps atomically with the data on maintenance rewrites:
   * [[compactCorpus]] collapses the accreted deltas to one,
   * [[recheckCorpus]] applies negative adjustments for the stragglers it
   * removes. [[ledgerCard]] folds the deltas into the wide per-source
   * card — a read of O(batches × sources × counters) tiny rows, never of
   * the corpus.
   *
   * Counters (admitted-side ones recomputable exactly from the final
   * corpus; drop-side ones are properties of the ingest HISTORY):
   * `n_docs`, `n_tokens`, `n_pii_docs` (any email/url hit),
   * `n_quality_low` (heuristic quality < 0.6), `n_dropped_batch`
   * (in-batch near-dup drops), `n_dropped_cross` (cross-corpus drops,
   * excluding docs already dropped in-batch), `n_removed_recheck`
   * (offline recheck removals; their admitted-side counters are
   * subtracted back out).
   */
  private val LedgerCounters = Seq("n_docs", "n_tokens", "n_pii_docs",
    "n_quality_low", "n_dropped_batch", "n_dropped_cross", "n_removed_recheck")

  /** The quality-bucket threshold the card counts against (matches the
   *  release-card convention q_corpus_card pins). */
  val LedgerQualityLow = 0.6

  private def ledgerDirOf(corpDir: String) = new Path(corpDir, "_ledger")

  private def requireCol(df: DataFrame, c: String, what: String): Unit =
    require(df.columns.contains(c),
      s"$what requires column '$c' (the corpus _meta.json declares ledgerBy=$c); " +
        s"got ${df.columns.mkString("[", ", ", "]")}")

  /** Admitted-side counters of `docs` as long-form rows, scan-local
   *  kernels + one tiny grouped aggregate; `sign = -1` emits the negative
   *  adjustment recheck removals apply. */
  private def admittedStatsLong(docs: DataFrame, grp: String, textCol: String,
      sign: Int = 1): DataFrame = {
    requireCol(docs, grp, "ledger maintenance")
    val (_, nEmail, nUrl) = Corpus.redact(col(textCol))
    val s = lit(sign.toLong)
    docs.groupBy(col(grp).cast("string").as("grp"))
      .agg(
        (count(lit(1)) * s).as("n_docs"),
        (coalesce(sum(TextFunctions.tokenCount(col(textCol)).cast("long")), lit(0L)) * s)
          .as("n_tokens"),
        (coalesce(sum(when(nEmail + nUrl > 0, 1L).otherwise(0L)), lit(0L)) * s)
          .as("n_pii_docs"),
        (coalesce(sum(when(TextFunctions.qualityScore(col(textCol)) < LedgerQualityLow,
          1L).otherwise(0L)), lit(0L)) * s).as("n_quality_low"))
      .select(col("grp"),
        expr("stack(4, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
          "'n_pii_docs', n_pii_docs, 'n_quality_low', n_quality_low)")
          .as(Seq("counter", "value")))
  }

  /** One counter = the per-group row count of `docs`, long-form. */
  private[graft] def countLong(docs: DataFrame, grp: String, counter: String): DataFrame =
    docs.groupBy(col(grp).cast("string").as("grp"))
      .agg(count(lit(1)).as("value"))
      .select(col("grp"), lit(counter).as("counter"), col("value"))

  /** Stage + atomic-rename publish of one ledger delta (idempotent: an
   *  already-published ledger batch is a no-op, mirroring the data
   *  path). Deltas are sources × counters rows — one file. */
  private[graft] def publishLedgerDelta(delta: DataFrame, corpDir: String,
      ledgerId: Long): Unit = {
    val spark = delta.sparkSession
    val fs = fsFor(spark, corpDir)
    val ld = ledgerDirOf(corpDir)
    fs.mkdirs(ld)
    val target = new Path(ld, s"ingest_batch=$ledgerId")
    if (fs.exists(target)) return
    val staging = new Path(ld, s"_staging_$ledgerId")
    delta.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    if (!fs.rename(staging, target))
      throw new IllegalStateException(s"ledger publish rename $staging -> $target failed")
  }

  /** All deltas of a version dir's ledger, long-form; None = no ledger. */
  private[graft] def ledgerLong(spark: SparkSession, corpDir: String): Option[DataFrame] = {
    val fs = fsFor(spark, corpDir)
    val ld = ledgerDirOf(corpDir)
    if (!fs.exists(ld)) None
    else Some(spark.read.parquet(ld.toString)
      .select(col("grp"), col("counter"), col("value")))
  }

  private[graft] def collapseLedger(lf: DataFrame): DataFrame =
    lf.groupBy("grp", "counter").agg(sum(col("value")).as("value"))
      .select("grp", "counter", "value")

  /** The ledgerBy table property, if the corpus maintains a ledger. */
  private def ledgerByOf(spark: SparkSession, corpusPath: String): Option[String] =
    AtRest.readMeta(spark, corpusPath).flatMap(_.get("ledgerBy"))

  /**
   * The per-source corpus card, READ FROM THE LEDGER — O(committed
   * batches × sources × counters) rows, no corpus scan. One wide row per
   * group value of the table's `ledgerBy` column; missing counters fold
   * to 0. Loud error on unledgered corpora (a silent empty card would
   * read as "clean corpus").
   */
  def ledgerCard(spark: SparkSession, corpusPath: String): DataFrame = {
    val grpName = ledgerByOf(spark, corpusPath).getOrElse(
      throw new IllegalStateException(
        s"$corpusPath maintains no stats ledger — seed with " +
          "writeCorpus(..., ledgerBy = <col>) or migrate with enableLedger"))
    val dir = AtRest.resolve(spark, corpusPath)
    val lf = ledgerLong(spark, dir).getOrElse(
      throw new IllegalStateException(
        s"$corpusPath declares ledgerBy=$grpName but has no _ledger deltas — " +
          "the table is damaged; re-run enableLedger to rebuild"))
    val aggs = LedgerCounters.map(c =>
      sum(when(col("counter") === c, col("value")).otherwise(0L)).as(c))
    lf.groupBy("grp").agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("grp", grpName)
      .orderBy(grpName)
  }

  /**
   * Migrate an existing (unledgered) corpus to ledger maintenance: one
   * full recompute of the admitted-side counters over the CURRENT
   * corpus, written as the collapsed seed delta, plus the `ledgerBy`
   * meta property that turns every later [[ingestBatch]] incremental.
   * Drop-history counters start at 0 — the history before enablement
   * was never recorded anywhere.
   */
  def enableLedger(spark: SparkSession, corpusPath: String, ledgerBy: String,
      textCol: String = "text"): Unit = AtRest.withLease(spark, corpusPath) {
    val meta = AtRest.readMeta(spark, corpusPath).getOrElse(
      throw new IllegalStateException(
        s"$corpusPath has no _meta.json — seed it through writeCorpus first"))
    val dir = AtRest.resolve(spark, corpusPath)
    val fs = fsFor(spark, corpusPath)
    val ld = ledgerDirOf(dir)
    if (fs.exists(ld)) fs.delete(ld, true)
    val corpus = readCorpus(spark, corpusPath)
    publishLedgerDelta(admittedStatsLong(corpus, ledgerBy, textCol), dir, SeedBatch)
    AtRest.writeMeta(spark, corpusPath, meta + ("ledgerBy" -> ledgerBy))
  }

  // ------------------------------------------------------------- tombstones

  /**
   * DELETION VECTORS for the at-rest corpus — how [[recheckSince]] removes
   * documents batch-proportionally. A full corpus rewrite (the
   * [[recheckCorpus]] path) stages a complete new version: crash-atomic,
   * but O(corpus) I/O per pass, which defeats an INCREMENTAL recheck. The
   * public-design alternative (Iceberg delete files / Delta deletion
   * vectors): publish the removed ids as a tiny sidecar table under
   * `<versionDir>/_tombstones/recheck=<id>/` — one atomic directory
   * rename, O(removed) bytes — and have every reader anti-join the
   * tombstone set ([[readCorpus]], [[readCorpusAt]], the probe's
   * candidate-text fetch). Removals are monotone, so a reader racing a
   * tombstone publish sees the pre- or post-recheck rows, never a mix —
   * the same window any batch publish has.
   *
   * Tombstones live INSIDE the version directory: a maintenance rewrite
   * ([[compactCorpus]]/[[recheckCorpus]]) APPLIES them (the new version is
   * written without the removed rows and without the sidecar), and a
   * historical version read ([[readCorpusAt]]) sees exactly the tombstone
   * set that version had — snapshot semantics for free.
   *
   * The removed docs' INDEX keys are left in place (their batch dirs
   * cannot be rewritten cheaply): they are ghosts whose candidates die at
   * the probe's candidate-text join (no text, inner join), costing at most
   * a few excess candidate rows until the next [[recheckCorpus]]/
   * [[writeAtRest]] index rebuild sweeps them.
   */
  private def tombstoneDirOf(corpDir: String) = new Path(corpDir, "_tombstones")

  /** The version dir's tombstoned ids as a 1-col (`id`) frame; None = no
   *  tombstones published. */
  private def tombstoneIds(spark: SparkSession, corpDir: String): Option[DataFrame] = {
    val fs = fsFor(spark, corpDir)
    val td = tombstoneDirOf(corpDir)
    val has = fs.exists(td) &&
      fs.listStatus(td).exists(_.getPath.getName.startsWith("recheck="))
    if (!has) None
    else Some(spark.read.parquet(td.toString).select(col("id")))
  }

  /** Read one version directory's corpus with its tombstones applied —
   *  the shared primitive behind [[readCorpus]]/[[readCorpusAt]] and the
   *  probe's text fetch. The id column comes from the version's own
   *  `_meta.json` (tombstones are only ever written by [[recheckSince]],
   *  which requires one). */
  private def corpusScanDir(spark: SparkSession, corpusPath: String,
      corpDir: String): DataFrame = {
    val df = spark.read.parquet(corpDir)
    tombstoneIds(spark, corpDir) match {
      case None => df
      case Some(ts) =>
        val idCol = AtRest.readMetaIn(spark, corpusPath, corpDir).getOrElse("idCol",
          throw new IllegalStateException(
            s"$corpDir has tombstones but no _meta.json idCol — the table is " +
              "damaged (tombstones are only written against a described corpus)"))
        df.join(ts, df(idCol) === ts("id"), "left_anti")
    }
  }

  // ----------------------------------------------------------- bloom sidecar

  /** One serialized bloom filter per index write, over the written keys'
   *  `xxhash64(band, bucket)` — `<dir>/_bloom/bloom-<tag>.bin`, living in
   *  the VERSION directory beside the data it covers (a maintenance swap
   *  replaces data and blooms together). Blooms are written BEFORE their
   *  data publishes (a bloom with extra keys is a harmless false
   *  positive; data without a bloom would be a correctness-breaking false
   *  negative). Probes test the batch's keys against every sidecar bloom
   *  and skip the index scan when none might match; [[compact]] collapses
   *  the accreted files into one. */
  private def writeBloomFile(keys: DataFrame, dir: String, tag: String,
      estimatedKeys: Long = -1L): Unit = {
    val hashed = keys.select(xxhash64(col("band"), col("bucket")).as("k")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // a caller-known upper bound (e.g. admitted-rows × bands) skips the
      // count job — an overestimate only lowers the false-positive rate
      val est = if (estimatedKeys > 0) estimatedKeys else math.max(hashed.count(), 1L)
      val bin = hashed.agg(SketchFunctions.bloom_agg(col("k"), est))
        .head.getAs[Array[Byte]](0)
      // zero keys (an index compacted to empty) -> no bloom; probes fall
      // back to the (empty, cheap) full read
      if (bin != null) {
        val fs = fsFor(keys.sparkSession, dir)
        AtRest.writeFile(fs, new Path(dir, s"_bloom/bloom-$tag.bin"), bin)
      }
    } finally hashed.unpersist(blocking = false)
  }

  /** One specific bloom sidecar by tag; None = never written (a
   *  zero-key write). */
  private def readBloomTag(spark: SparkSession, dir: String,
      tag: String): Option[Array[Byte]] = {
    val fs = fsFor(spark, dir)
    val p = new Path(dir, s"_bloom/bloom-$tag.bin")
    if (fs.exists(p)) Some(AtRest.readFile(fs, p)) else None
  }

  private def readBlooms(spark: SparkSession, dir: String): Seq[Array[Byte]] = {
    val fs = fsFor(spark, dir)
    val d = new Path(dir, "_bloom")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map(st => AtRest.readFile(fs, st.getPath)).toSeq
  }

  // ------------------------------------------------------------- public reads

  /** The at-rest corpus as a DataFrame (current version resolved,
   *  tombstones applied) — the supported external read; a raw
   *  `spark.read.parquet(root)` on a versioned root fails loudly by
   *  design. */
  def readCorpus(spark: SparkSession, corpusPath: String): DataFrame =
    corpusScanDir(spark, corpusPath, AtRest.resolve(spark, corpusPath))

  /** TIME TRAVEL: the corpus as of retained version `version` — that
   *  generation's data with that generation's tombstone set, exactly what
   *  a reader resolved at the time saw ([[AtRest.resolveAt]] bounds the
   *  window loudly: current + just-replaced + the versionGraceMs
   *  retention). The audit/debug read: "what did the corpus look like
   *  before last night's maintenance pass?". */
  def readCorpusAt(spark: SparkSession, corpusPath: String, version: Long): DataFrame =
    corpusScanDir(spark, corpusPath, AtRest.resolveAt(spark, corpusPath, version))

  /** The at-rest index keys as a DataFrame (current version resolved). */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(AtRest.resolve(spark, indexPath))

  // ------------------------------------------------------------ write paths

  /**
   * Sign `corpus` and write its banded LSH keys under `path` as the seed
   * batch of a FRESH VERSION (staged completely, then pointer-swapped —
   * re-seeding an existing index is crash-atomic too). Writes the
   * `_meta.json` parameter sidecar that all later probes/appends validate
   * against. Buckets larger than `maxBucket` are dropped at write time
   * (degenerate boilerplate buckets would contribute `k` candidate rows
   * per probe doc forever); unlike the batch self-join, SINGLETON buckets
   * are kept — a future batch doc can collide with a so-far-unique corpus
   * doc.
   */
  def writeAtRest(corpus: DataFrame, path: String, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, maxBucket: Int = 1000, nParts: Int = 16): Unit = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    writeAtRestFromSigs(sigFrame(corpus, textCol, idCol, numHashes, shingleWords),
      path, numHashes, bands, shingleWords, maxBucket, nParts)
  }

  /** [[writeAtRest]] from a CALLER-OWNED `(id, sig)` frame — lets
   *  [[recheckCorpus]] rebuild the index from the signatures it already
   *  has (at-rest sidecars + the recheck's own fills) instead of paying
   *  a second full-corpus signing pass. Also persists the signatures as
   *  the new version's `_sigs` sidecar (see [[SigsDir]]). */
  private def writeAtRestFromSigs(sigs0: DataFrame, path: String,
      numHashes: Int, bands: Int, shingleWords: Int, maxBucket: Int,
      nParts: Int): Unit = {
    val spark = sigs0.sparkSession
    AtRest.withLease(spark, path) {
      val fs = fsFor(spark, path)
      val sigs = sigs0.persist(StorageLevel.MEMORY_AND_DISK_SER)
      val keys = capBuckets(
          bandedKeysFromSigs(sigs, bands, numHashes / bands, nParts), maxBucket)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // one count of each persisted frame feeds the file-count sizing
        // and the bloom's capacity — no extra pass vs the count
        // writeBloomFile would otherwise run itself
        val nSigs = sigs.count()
        val nKeys = keys.count()
        val (v, staging) = AtRest.nextStaging(fs, path)
        clusterForWrite(keys, "bucket_part", "id", nKeys, keyRowsPerFile(spark))
          .write.partitionBy("bucket_part").mode("overwrite")
          .parquet(new Path(staging, s"ingest_batch=$SeedBatch").toString)
        writeSigs(sigs, staging.toString, nSigs)
        writeBloomFile(keys, staging.toString, "seed", estimatedKeys = nKeys)
        // a seed REDEFINES the table's parameters — overwrite, don't
        // validate; staged IN the version so meta and data swap together
        AtRest.writeMetaStaged(spark, staging,
          indexMeta(numHashes, bands, shingleWords, nParts, maxBucket))
        AtRest.publishVersion(spark, path, v)
      } finally {
        keys.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
      }
    }
  }

  /** Append newly-admitted documents' keys to an existing index — the
   *  at-least-once maintenance step for DIRECT batch callers (the
   *  exactly-once ingest loop publishes through a batch directory rename
   *  instead, see [[ingestBatch]]). Parameters validate against the
   *  index's `_meta.json` (a fresh path adopts them). The degenerate-
   *  bucket cap applies WITHIN this append only; across appends a bucket
   *  can accrete past it, which is why [[probe]] re-applies the cap at
   *  read time and [[compact]] drops the excess at rest. */
  def appendToIndex(docs: DataFrame, path: String, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, maxBucket: Int = 1000, nParts: Int = 16): Unit = {
    val spark = docs.sparkSession
    AtRest.withLease(spark, path) {
      AtRest.validateOrAdoptMeta(spark, path,
        indexMeta(numHashes, bands, shingleWords, nParts, maxBucket))
      val dir = AtRest.resolve(spark, path)
      require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
      val sigs = sigFrame(docs, textCol, idCol, numHashes, shingleWords)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val keys = capBuckets(
          bandedKeysFromSigs(sigs, bands, numHashes / bands, nParts), maxBucket)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // one count of each persisted frame feeds the file-count sizing
        // and the bloom's capacity — no extra pass
        val nSigs = sigs.count()
        val nKeys = keys.count()
        // sigs first, then bloom, then keys: a crash leaves ghosts
        // readers tolerate (sigs semi-join to the corpus; bloom false
        // positives are harmless), never committed keys without cover
        writeSigs(sigs, dir, nSigs, append = true)
        writeBloomFile(keys, dir, s"a${System.nanoTime()}", estimatedKeys = nKeys)
        clusterForWrite(keys.withColumn("ingest_batch", lit(SeedBatch)),
            "bucket_part", "id", nKeys, keyRowsPerFile(spark))
          .write.partitionBy("ingest_batch", "bucket_part").mode("append").parquet(dir)
      } finally {
        keys.unpersist(blocking = false)
        sigs.unpersist(blocking = false)
      }
    }
  }

  /** Seed the id-addressable at-rest corpus: every column of `docs` plus
   *  the `id_part` layout column, partitioned so candidate-text fetches
   *  prune to the candidates' partitions. A fresh seed resets the replay
   *  history (`_committed` markers) along with the data — staged as a new
   *  version, pointer-swapped. A non-null `ledgerBy` turns on the
   *  incremental stats [[ledgerCard ledger]]: the grouping column is
   *  recorded as a table property and the seed docs' counters land as
   *  the first delta (both staged, so they publish with the data). */
  def writeCorpus(docs: DataFrame, path: String, idCol: String = "doc_id",
      nParts: Int = 16, ledgerBy: String = null,
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    AtRest.withLease(spark, path) {
      val fs = fsFor(spark, path)
      val (v, staging) = AtRest.nextStaging(fs, path)
      // persist so the file-count sizing pass and the write compute the
      // seed source once; freed before the version publishes
      val laid = withIdPart(docs, idCol, nParts)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try {
        clusterForWrite(laid, "id_part", idCol, laid.count(), docRowsPerFile(spark))
          .write.partitionBy("id_part").mode("overwrite")
          .parquet(new Path(staging, s"ingest_batch=$SeedBatch").toString)
      } finally laid.unpersist(blocking = false)
      requireNoLayoutCols(docs, "writeCorpus seed")
      val meta = corpusMeta(idCol, nParts) ++
        Option(ledgerBy).map("ledgerBy" -> _).toMap +
        ("columns" -> docs.columns.sorted.mkString(","))
      AtRest.writeMetaStaged(spark, staging, meta)
      if (ledgerBy != null)
        publishLedgerDelta(admittedStatsLong(docs, ledgerBy, textCol),
          staging.toString, SeedBatch)
      val markers = new Path(path, "_committed")
      if (fs.exists(markers)) fs.delete(markers, true)
      AtRest.publishVersion(spark, path, v)
    }
  }

  // ------------------------------------------------------------ probe paths

  private def emptyPairs(spark: SparkSession,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("batch_id", idType),
        org.apache.spark.sql.types.StructField("corpus_id", idType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType))))

  /**
   * Near-duplicate pairs between an arriving `batch` and the indexed
   * corpus: `(batch_id, corpus_id, jaccard)` for every verified pair with
   * exact word-shingle Jaccard ≥ `threshold`. The signature/banding
   * parameters MUST match the ones the index was written with — bucket
   * keys are hashes, so a mismatch would silently yield zero collisions;
   * the `_meta.json` sidecar makes that LOUD (validated here).
   *
   * `fetchText(candIds)` supplies `(id, text)` for the distinct candidate
   * corpus ids — the ONLY corpus access the probe makes.
   */
  private def probeCore(spark: SparkSession, path: String, batch: DataFrame,
      fetchText: DataFrame => DataFrame, threshold: Double, textCol: String,
      idCol: String, numHashes: Int, bands: Int, shingleWords: Int,
      nParts: Int, maxBucket: Int, preBanded: DataFrame = null): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    AtRest.validateMeta(spark, path,
      indexMeta(numHashes, bands, shingleWords, nParts, maxBucket))
    val dir = AtRest.resolve(spark, path)
    val rows = numHashes / bands
    val batchSlim = batch.select(col(idCol).as("id"), col(textCol).as("text"))
    val idType = batchSlim.schema("id").dataType
    // a CALLER-OWNED banded-key frame (the ingest loop signs its batch
    // once and shares) skips the probe's own signature pass; ownership
    // of its cache stays with the caller
    val ownBanded = preBanded == null
    val batchBanded =
      if (!ownBanded) preBanded
      else batchSlim.select(col("id"),
          Dedup.signatureFromShingles(
            TextFunctions.wordShingles(col("text"), shingleWords), numHashes).as("sig"))
        .select(col("id"),
          posexplode(Dedup.bandBuckets(col("sig"), bands, rows)).as(Seq("band", "bucket")))
        .withColumn("bucket_part", pmod(xxhash64(col("band"), col("bucket")), lit(nParts)))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // bloom short-circuit: keys absent from EVERY sidecar bloom cannot
    // collide (no false negatives), so drop them before deriving the
    // partition list — and skip the index read outright when nothing
    // survives (a fully-novel batch, the streaming common case). One
    // sidecar accretes per publish and the test is an OR across all of
    // them, so past 64 uncompacted sidecars the predicate stops paying
    // for its own plan size — fall back to the (always-correct) full
    // probe until [[compact]] collapses them to one.
    val blooms = readBlooms(spark, dir)
    val hotKeys =
      if (blooms.isEmpty || blooms.size > 64) batchBanded
      else batchBanded.filter(blooms
        .map(b => SketchFunctions.bloom_contains(b, xxhash64(col("band"), col("bucket"))))
        .reduce(_ || _))
    // bounded collect: ≤ nParts partition KEYS (the layout constant), the
    // static IN-filter that makes the parquet scan plan only the touched
    // partition directories (FileSourceScan partition-count spec'd)
    val parts = hotKeys.select("bucket_part").distinct()
      .collect().map(_.getLong(0)).sorted
    if (parts.isEmpty) { // empty batch, or no bloom might-contain hit:
      if (ownBanded) batchBanded.unpersist(blocking = false) // nothing to probe
      return emptyPairs(spark, idType)
    }
    // matched partitions' keys, with the write-time degenerate-bucket cap
    // RE-APPLIED at probe time: across appends a bucket can accrete past
    // the per-write cap ([[compact]] re-establishes it at rest) — without
    // this every future probe touching that bucket would pay its full
    // membership forever. Two-step shape (guide §2.3 + §2.5): the index
    // keys are first SEMI-JOINED to the batch's distinct bucket keys — a
    // bucket either matches a hot key (then ALL its members survive, so
    // the cap still counts full membership) or is irrelevant to this
    // probe — and only that hot subset is capped, via a sorted
    // run-length pass (Dedup.cappedRuns) that discards an accreted
    // degenerate bucket with O(maxBucket) task memory instead of a
    // window buffer. The r17 window formulation counted EVERY bucket in
    // every touched partition; the r16 groupBy + join-back additionally
    // scanned the pruned parquet twice and shuffled its keys twice.
    val hotset = hotKeys.select("bucket_part", "band", "bucket").distinct()
    val idx = Dedup.cappedRuns(
      spark.read.parquet(dir)
        .filter(col("bucket_part").isin(parts.map(_.asInstanceOf[Any]): _*))
        .select("bucket_part", "band", "bucket", "id")
        .join(hotset, Seq("bucket_part", "band", "bucket"), "left_semi"),
      Seq("bucket_part", "band", "bucket"), maxBucket)
    val cand = hotKeys
      .join(idx.select(col("bucket_part"), col("band"), col("bucket"),
          col("id").as("corpus_id")),
        Seq("bucket_part", "band", "bucket"))
      // a batch doc already in the corpus under the same id is itself, not
      // a duplicate pair
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id").as("batch_id"), col("corpus_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val shB = batchSlim
      .join(cand.select(col("batch_id").as("id")), Seq("id"), "left_semi")
      .select(col("id"), TextFunctions.wordShingles(col("text"), shingleWords).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val shC = fetchText(cand.select(col("corpus_id").as("id")).distinct())
      .select(col("id"), TextFunctions.wordShingles(col("text"), shingleWords).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val out = cand
      .join(shB.select(col("id").as("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(shC.select(col("id").as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("batch_id", "corpus_id")
    val free = Seq(cand, shB, shC) ++
      (if (ownBanded) Seq(batchBanded) else Nil)
    Dedup.materializeThenFree(out, free: _*)
  }

  /** [[probeCore]] with an IN-MEMORY corpus frame supplying candidate
   *  text via a semi-join-reduced fetch — for corpora already loaded (or
   *  cached) by the caller. The at-rest ingest loop uses [[probeAtRest]],
   *  whose text fetch also partition-prunes. */
  def probe(spark: SparkSession, path: String, batch: DataFrame, corpus: DataFrame,
      threshold: Double = 0.7, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 32, bands: Int = 8, shingleWords: Int = 3,
      nParts: Int = 16, maxBucket: Int = 1000): DataFrame =
    probeCore(spark, path, batch,
      ids => corpus.select(col(idCol).as("id"), col(textCol).as("text"))
        .join(ids, Seq("id"), "left_semi"),
      threshold, textCol, idCol, numHashes, bands, shingleWords, nParts, maxBucket)

  /**
   * [[probeCore]] against a [[writeCorpus]]-laid-out at-rest corpus: the
   * candidate ids' `id_part` keys (a bounded collect of ≤ `corpusParts`
   * LAYOUT keys, the corpus twin of the index-probe collect) become a
   * static IN partition filter, so the candidate-TEXT scan plans only the
   * candidates' partition directories — steady-state ingest I/O stays
   * batch-proportional on both the index AND the corpus side.
   * `corpusParts`/`idCol` validate against the corpus `_meta.json`.
   *
   * Planning still LISTS both tables' partition directories (one
   * directory per committed batch per layout key until [[compact]]/
   * [[compactCorpus]] collapse them) — data I/O is pruned every probe,
   * listing cost is bounded by the compaction cadence.
   */
  def probeAtRest(spark: SparkSession, indexPath: String, batch: DataFrame,
      corpusPath: String, threshold: Double = 0.7, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, nParts: Int = 16, maxBucket: Int = 1000,
      corpusParts: Int = 16, preBanded: DataFrame = null): DataFrame =
      StageCoalesce.sizeBased(spark) {
    AtRest.validateMeta(spark, corpusPath, corpusMeta(idCol, corpusParts))
    val corpDir = AtRest.resolve(spark, corpusPath)
    probeCore(spark, indexPath, batch,
      ids => {
        val idParts = ids.select(pmod(xxhash64(col("id")), lit(corpusParts)).as("p"))
          .distinct().collect().map(_.getLong(0)).sorted
        if (idParts.isEmpty)
          ids.select(col("id"), lit(null).cast("string").as("text")).limit(0)
        else
          // partition-pruned scan, then tombstones applied — a candidate
          // whose corpus doc was tombstoned finds no text and its pair
          // dies at the inner join (ghost index keys stay harmless)
          corpusScanDir(spark, corpusPath, corpDir)
            .filter(col("id_part").isin(idParts.map(_.asInstanceOf[Any]): _*))
            .select(col(idCol).as("id"), col(textCol).as("text"))
            .join(ids, Seq("id"), "left_semi")
      },
      threshold, textCol, idCol, numHashes, bands, shingleWords, nParts, maxBucket,
      preBanded)
  }

  /** The admit decision built on [[probe]]: batch rows with NO verified
   *  near-dup in the indexed corpus (the ones an ingest pipeline appends
   *  and indexes next). `maxBucket` forwards to the probe — it must match
   *  the index's write-time cap, which the `_meta.json` validation now
   *  enforces loudly. */
  def admitNew(spark: SparkSession, path: String, batch: DataFrame, corpus: DataFrame,
      threshold: Double = 0.7, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 32, bands: Int = 8, shingleWords: Int = 3,
      nParts: Int = 16, maxBucket: Int = 1000): DataFrame = {
    val dups = probe(spark, path, batch, corpus, threshold, textCol, idCol,
        numHashes, bands, shingleWords, nParts, maxBucket)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dups, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------ ingest loop

  private def committedMarker(corpusPath: String, batchId: Long): Path =
    new Path(corpusPath, s"_committed/batch-$batchId")

  /**
   * One micro-batch of the CONTINUOUS ingest loop: dedup `batch` within
   * itself and against the accepted corpus, publish the survivors' text
   * to `corpusPath` and their LSH keys to `indexPath`. Returns the
   * admitted count.
   *
   * Within-batch semantics are the greedy local rule — a doc is dropped
   * when it is the strictly-LARGER member of any verified pair — which
   * needs no iteration; docs whose cluster links run only through dropped
   * members can each survive as a representative (unlike
   * [[Dedup.nearDupGroups]]' transitive canonical, which an offline
   * compaction pass can still apply later).
   *
   * Bootstrap: a missing/empty index means nothing is accepted yet — the
   * whole (self-deduped) first batch admits and seeds both paths (and
   * their `_meta.json` sidecars; later batches validate).
   *
   * Delivery with `batchId >= 0` is EXACTLY-ONCE: each path's batch data
   * stages under `_staging_<batchId>` and publishes with one atomic
   * directory rename to `ingest_batch=<batchId>`, then a `_committed`
   * marker (holding the admitted count) records completion. A replayed
   * batch short-circuits on the marker; a replay after a partial crash
   * recomputes the same admit set (the probe ignores same-id self-matches
   * and a half-published index key finds no corpus text, so the decision
   * is unchanged) and re-publishes only the missing renames. `batchId <
   * 0` keeps the plain append path for direct one-shot callers
   * (at-least-once under external retries).
   *
   * Writer fencing: the call runs under both roots' leases
   * (`leaseOwner` null = a transient per-call owner; [[ingestStream]]
   * passes its stream-lifetime owner so its own batches refresh rather
   * than re-claim).
   */
  def ingestBatch(batch: DataFrame, indexPath: String, corpusPath: String,
      threshold: Double = 0.7, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 32, bands: Int = 8, shingleWords: Int = 3,
      nParts: Int = 16, maxBucket: Int = 1000, batchId: Long = -1L,
      corpusParts: Int = 16, leaseOwner: String = null,
      shard: Int = 0, nShards: Int = 1): Long =
      StageCoalesce.sizeBased(batch.sparkSession) {
    val spark = batch.sparkSession
    val fs = fsFor(spark, corpusPath)
    if (batchId >= 0 && fs.exists(committedMarker(corpusPath, batchId))) {
      // markers are written atomically (writeFile renames), but tolerate a
      // corrupt one anyway: an unparsable marker means NOT committed — the
      // partial-replay path below recomputes and re-publishes safely
      val txt = new String(AtRest.readFile(fs, committedMarker(corpusPath, batchId)),
        java.nio.charset.StandardCharsets.UTF_8).trim
      txt.toLongOption match {
        case Some(n) => return n
        case None => fs.delete(committedMarker(corpusPath, batchId), false)
      }
    }
    // marker absent: a batchId below the compacted-marker watermark is a
    // checkpoint-history violation, not a legitimate replay — fail loudly
    if (batchId >= 0) AtRest.failIfBelowWatermark(fs, corpusPath, batchId)
    val owner = if (leaseOwner != null) leaseOwner
      else java.util.UUID.randomUUID().toString
    def acquire(p: String): Unit =
      if (nShards <= 1) AtRest.acquireLease(spark, p, owner)
      else AtRest.acquireShardLease(spark, p, owner, shard, nShards)
    // transient per-call fence; a stream's lifetime lease stays held
    def release(p: String): Unit = if (leaseOwner == null) {
      if (nShards <= 1) AtRest.releaseLease(spark, p, owner)
      else AtRest.releaseShardLease(spark, p, owner, shard, nShards)
    }
    acquire(indexPath)
    try {
      acquire(corpusPath)
      try ingestBatchFenced(batch, indexPath, corpusPath, threshold, textCol,
        idCol, numHashes, bands, shingleWords, nParts, maxBucket, batchId,
        corpusParts, shard, nShards)
      finally release(corpusPath)
    } finally release(indexPath)
  }

  private def ingestBatchFenced(batch: DataFrame, indexPath: String,
      corpusPath: String, threshold: Double, textCol: String, idCol: String,
      numHashes: Int, bands: Int, shingleWords: Int, nParts: Int,
      maxBucket: Int, batchId: Long, corpusParts: Int,
      shard: Int = 0, nShards: Int = 1): Long = {
    val spark = batch.sparkSession
    val fs = fsFor(spark, corpusPath)
    AtRest.validateOrAdoptMeta(spark, indexPath,
      indexMeta(numHashes, bands, shingleWords, nParts, maxBucket))
    requireNoLayoutCols(batch, "ingest batch")
    validateCorpusColumns(spark, corpusPath, idCol, corpusParts, batch.columns)
    val idxDir = AtRest.resolve(spark, indexPath)
    val corpDir = AtRest.resolve(spark, corpusPath)
    if (batchId >= 0) {
      // a batch dir WITHOUT its marker is a half-published crash leftover:
      // un-publish it before recomputing, so the replay's probe sees the
      // exact pre-attempt state and the admit decision is bit-identical
      // (a half-published index key could otherwise tip a bucket over the
      // probe-side maxBucket re-cap and flip a candidate)
      val ifs = fsFor(spark, indexPath)
      val idxBatch = new Path(idxDir, s"ingest_batch=$batchId")
      if (ifs.exists(idxBatch)) ifs.delete(idxBatch, true)
      val corpBatch = new Path(corpDir, s"ingest_batch=$batchId")
      if (fs.exists(corpBatch)) fs.delete(corpBatch, true)
      // the ledger delta rides the same exactly-once protocol
      val ledgerBatch = new Path(ledgerDirOf(corpDir), s"ingest_batch=$batchId")
      if (fs.exists(ledgerBatch)) fs.delete(ledgerBatch, true)
    }
    // keep EVERY batch column (the corpus stores them, like writeCorpus;
    // the ledger's grouping column in particular must survive to rest)
    val b = batch.dropDuplicates(idCol)
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // sharded fence: this writer's lease covers ONLY its id range — a
    // misrouted row would race the owning shard's writer, so reject it
    // loudly instead of silently writing outside the fence
    if (nShards > 1) {
      val nOutside = b.filter(
        pmod(xxhash64(col(idCol)), lit(nShards.toLong)) =!= shard).count()
      if (nOutside > 0)
        throw new IllegalStateException(
          s"$nOutside batch rows fall outside shard $shard of $nShards " +
            s"(pmod(xxhash64($idCol), $nShards)); route every row to its owning " +
            "shard's stream — ingestStreamSharded filters automatically")
    }
    // sign the batch ONCE: the signature frame feeds the in-batch sweep,
    // the index probe AND the admitted-keys write (previously three
    // independent shingle+minhash passes over the same batch text — the
    // kernel is the dominant scan-local cost of the loop)
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val sigRows = numHashes / bands
    val sigs = b.select(col(idCol).as("id"),
        Dedup.signatureFromShingles(
          TextFunctions.wordShingles(col(textCol), shingleWords), numHashes).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val banded = sigs.select(col("id"),
        posexplode(Dedup.bandBuckets(col("sig"), bands, sigRows)).as(Seq("band", "bucket")))
      .withColumn("bucket_part", pmod(xxhash64(col("band"), col("bucket")), lit(nParts)))
      .select("bucket_part", "band", "bucket", "id")
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    // localCheckpoint: the drop sets are tiny but their LINEAGE is the
    // whole in-batch near-dup machinery; four downstream consumers
    // (admit anti-join, two ledger counts, the sharded commit's unions)
    // would each re-plan it otherwise
    val inBatchDrop = Dedup.nearDuplicatesFromSigs(
        b.select(col(idCol).as("id"), col(textCol).as("text")), sigs,
        threshold, shingleWords, bands, sigRows, maxBucket)
      .select(col("id_b").as(idCol)).distinct()
      .localCheckpoint(true)
    // data dirs only: _bloom/_staging/_committed don't make an index
    val hasIndex = {
      val ifs = fsFor(spark, indexPath)
      val p = new Path(idxDir)
      ifs.exists(p) && ifs.listStatus(p).exists(_.getPath.getName.startsWith("ingest_batch="))
    }
    // snapshot of the index's batch dirs, taken just before the probe:
    // the sharded commit section re-probes against batches that COMMIT
    // after this point (the cross-shard in-flight window)
    val ifs2 = fsFor(spark, indexPath)
    val snapshotIds = listIndexBatchIds(ifs2, idxDir)
    val crossDrop =
      if (hasIndex)
        probeAtRest(spark, indexPath, b, corpusPath, threshold, textCol, idCol,
            numHashes, bands, shingleWords, nParts, maxBucket, corpusParts,
            preBanded = banded)
          .select(col("batch_id").as(idCol)).distinct()
          .localCheckpoint(true) // same lineage-cut as inBatchDrop (the probe plan)
      else b.select(col(idCol)).limit(0)
    // materialized HERE — the heavy signing/probing must finish before
    // the (serialized) sharded commit section below. localCheckpoint, not
    // persist: the probe's logical plan is enormous (banded signatures +
    // preBanded probe + bloom pruning), and every downstream action over
    // a persisted frame RE-PLANS that whole lineage — AQE alone spends
    // whole seconds per action stringifying it. Truncating the lineage
    // makes the commit section's queries (keys semi-join, ledger stats,
    // delta re-probe) plan against a leaf. A lost block just replays the
    // batch — the exactly-once protocol already assumes that.
    val admitted0 = b.join(inBatchDrop.unionByName(crossDrop).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(true)
    onBeforeCommit()

    def publishAdjudicated(admitted: DataFrame, crossDropAll: DataFrame): Long = {
      val n = admitted.count()
      if (n > 0) {
        // the admitted docs' keys are a semi-join filter of the shared
        // banded frame — no third signature pass
        val keys = capBuckets(
            banded.join(admitted.select(col(idCol).as("id")), Seq("id"), "left_semi"),
            maxBucket)
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        // file-count sizing (guide §6): the admitted count n is already
        // on hand, so the lane derivation costs nothing — without it a
        // micro-batch published tasks × nParts near-empty files that
        // every later probe/recheck/compact scan re-opens
        val keysOut = clusterForWrite(keys, "bucket_part", "id",
          n * bands, keyRowsPerFile(spark))
        val docsOut = clusterForWrite(withIdPart(admitted, idCol, corpusParts),
          "id_part", idCol, n, docRowsPerFile(spark))
        // the admitted docs' signatures persist beside their index keys
        // (see SigsDir) — the shared banded pass already computed them,
        // so future rechecks never re-sign these documents
        val admittedSigs = sigs.join(
          admitted.select(col(idCol).as("id")), Seq("id"), "left_semi")
        if (batchId >= 0) {
          // bloom before data: committed keys must always be bloom-covered
          writeBloomFile(keys, idxDir, s"b$batchId", estimatedKeys = n * bands)
          publishBatchDir(keysOut, idxDir, "bucket_part", batchId,
            alsoStage = st => writeSigs(admittedSigs, st.toString, n))
          publishBatchDir(docsOut, corpDir, "id_part", batchId)
        } else {
          writeSigs(admittedSigs, idxDir, n, append = true)
          writeBloomFile(keys, idxDir, s"a${System.nanoTime()}")
          keysOut.withColumn("ingest_batch", lit(SeedBatch))
            .write.partitionBy("ingest_batch", "bucket_part").mode("append").parquet(idxDir)
          docsOut.withColumn("ingest_batch", lit(SeedBatch))
            .write.partitionBy("ingest_batch", "id_part").mode("append").parquet(corpDir)
        }
        keys.unpersist(blocking = false)
      }
      // ledger delta (if the corpus maintains one): published AFTER the
      // data, BEFORE the marker — a crash in between replays the whole
      // batch and rewrites both, so card and corpus can never disagree.
      // Even an all-dropped batch publishes (its drop counters are real).
      ledgerByOf(spark, corpusPath).foreach { g =>
        val crossOnly = crossDropAll.join(inBatchDrop, Seq(idCol), "left_anti")
        val delta = admittedStatsLong(admitted, g, textCol)
          .unionByName(countLong(b.join(inBatchDrop, Seq(idCol), "left_semi"),
            g, "n_dropped_batch"))
          .unionByName(countLong(b.join(crossOnly, Seq(idCol), "left_semi"),
            g, "n_dropped_cross"))
        // ad-hoc (batchId < 0) appends have no replay identity, so their
        // ledger delta could double-count on a retry — which would break
        // ledgerCard's exactly-once headline. Reject instead of weakening
        // the card's contract: a ledgered corpus takes checkpointed
        // (batchId >= 0) ingests only.
        if (batchId < 0)
          throw new IllegalArgumentException(
            s"$corpusPath maintains an exactly-once stats ledger, which an " +
              "ad-hoc (batchId < 0) append cannot honor — pass a stable " +
              "batchId >= 0 (or ingest through ingestStream)")
        publishLedgerDelta(delta, corpDir, batchId)
      }
      if (batchId >= 0)
        AtRest.writeFile(fs, committedMarker(corpusPath, batchId),
          n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      n
    }

    // SHARDED commit: serialized by the index root's commit mutex, so
    // commits are total-ordered and each one adjudicates against every
    // batch committed before it — closing the cross-shard in-flight
    // window (two shards concurrently ingesting near-identical docs
    // could both admit before either published). The re-probe covers
    // exactly the batches whose markers appeared since this batch's
    // probe snapshot; on a hit, MY member drops (the committed side is
    // immutable) — the offline recheck's keep-best pass refines the
    // survivor choice if scores matter. Unsharded writers skip the lock:
    // their whole-root lease already excludes concurrency.
    val n =
      if (nShards <= 1) publishAdjudicated(admitted0, crossDrop)
      else AtRest.withCommitLock(spark, indexPath) {
        val delta = (listIndexBatchIds(ifs2, idxDir) -- snapshotIds - batchId)
          .filter(idB => fs.exists(committedMarker(corpusPath, idB)))
        // bloom short-circuit FIRST: each committed delta batch published
        // a bloom over its keys before its data (bloom-b<id>); if none of
        // my admitted keys might-match any delta bloom, no cross-shard
        // pair can exist and the whole re-probe is ONE cheap scan-local
        // filter + take(1) instead of joins + shingle verification — the
        // no-collision case is the every-batch case in a healthy fleet.
        // A delta batch with no bloom (it admitted no keys) forces the
        // full verify: a false "no hit" would break dedup, a false hit
        // only costs the verify.
        val deltaBlooms = delta.toSeq.sorted.map(idB =>
          readBloomTag(spark, idxDir, s"b$idB"))
        val mightHit = delta.nonEmpty && {
          if (deltaBlooms.exists(_.isEmpty)) true
          else {
            val myKeys = banded.join(admitted0.select(col(idCol).as("id")),
              Seq("id"), "left_semi")
            !myKeys.filter(deltaBlooms.flatten
                .map(bl => SketchFunctions.bloom_contains(bl,
                  xxhash64(col("band"), col("bucket"))))
                .reduce(_ || _))
              .isEmpty
          }
        }
        if (!mightHit) publishAdjudicated(admitted0, crossDrop)
        else {
          val dropMore = deltaProbeDrops(spark, idxDir, corpDir, delta.toSeq,
              banded, admitted0, threshold, textCol, idCol, shingleWords)
            .persist(StorageLevel.MEMORY_AND_DISK_SER)
          val admitted = admitted0.join(dropMore, Seq(idCol), "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK_SER)
          val out = publishAdjudicated(admitted,
            crossDrop.unionByName(dropMore).distinct())
          admitted.unpersist(blocking = false)
          dropMore.unpersist(blocking = false)
          out
        }
      }
    banded.unpersist(blocking = false)
    sigs.unpersist(blocking = false)
    admitted0.unpersist(blocking = false)
    b.unpersist(blocking = false)
    n
  }

  /** Test seam: runs after the probe snapshot is materialized and before
   *  the commit section — a spec injects a concurrent shard's commit
   *  here to exercise the cross-shard delta re-probe deterministically.
   *  A no-op in production. */
  private[graft] var onBeforeCommit: () => Unit = () => ()

  private def listIndexBatchIds(fs: org.apache.hadoop.fs.FileSystem,
      idxDir: String): Set[Long] = {
    val p = new Path(idxDir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .flatMap(_.stripPrefix("ingest_batch=").toLongOption).toSet
  }

  /** Near-dup pairs between MY admitted docs and docs COMMITTED by
   *  concurrent batches after my probe snapshot: my banded keys join the
   *  delta batches' at-rest keys (those dirs only — batch-proportional,
   *  no index rescan), verified with exact shingle Jaccard against the
   *  delta corpus dirs' texts. Returns my member of each pair. */
  private def deltaProbeDrops(spark: SparkSession, idxDir: String,
      corpDir: String, deltaIds: Seq[Long], banded: DataFrame,
      admitted: DataFrame, threshold: Double, textCol: String, idCol: String,
      shingleWords: Int): DataFrame = {
    val keys = spark.read.parquet(
        deltaIds.sorted.map(idB => new Path(idxDir, s"ingest_batch=$idB").toString): _*)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
    val myKeys = banded.join(admitted.select(col(idCol).as("id")), Seq("id"), "left_semi")
    val cand = myKeys.join(keys, Seq("band", "bucket"))
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id")).distinct()
    val mine = admitted.select(col(idCol).as("id"),
      TextFunctions.wordShingles(col(textCol), shingleWords).as("sh_a"))
    val theirs = spark.read.parquet(
        deltaIds.sorted.map(idB => new Path(corpDir, s"ingest_batch=$idB").toString): _*)
      .select(col(idCol).as("corpus_id"),
        TextFunctions.wordShingles(col(textCol), shingleWords).as("sh_b"))
    cand.join(mine, Seq("id")).join(theirs, Seq("corpus_id"))
      .withColumn("j",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("j") >= threshold)
      .select(col("id").as(idCol)).distinct()
  }

  /** The streaming wrapper: every micro-batch of `docs` flows through
   *  [[ingestBatch]] with its foreachBatch batchId, making the loop
   *  exactly-once end to end (state lives in the two at-rest paths, NOT
   *  in Spark streaming state — it survives restarts, is shared with
   *  batch probes, and is unbounded-corpus-safe; the watermark-state
   *  alternative, [[Dedup.streamingNearDupCandidates]], bounds state but
   *  forgets old buckets).
   *
   *  Holds both roots' writer leases for the STREAM's lifetime — a
   *  second concurrent ingest stream fails at start() instead of
   *  silently corrupting. The owner derives from the checkpoint path, so
   *  a restart on the same checkpoint re-claims its own lease; the lease
   *  releases on query termination (and goes stale by TTL if the driver
   *  dies hard). */
  def ingestStream(docs: DataFrame, indexPath: String, corpusPath: String,
      checkpointPath: String, threshold: Double = 0.7, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, nParts: Int = 16, maxBucket: Int = 1000,
      corpusParts: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val owner = s"ckpt:$checkpointPath"
    AtRest.acquireLease(spark, indexPath, owner)
    try AtRest.acquireLease(spark, corpusPath, owner)
    catch { case e: Throwable =>
      AtRest.releaseLease(spark, indexPath, owner); throw e
    }
    val query =
      try docs.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          ingestBatch(b, indexPath, corpusPath, threshold, textCol, idCol,
            numHashes, bands, shingleWords, nParts, maxBucket, batchId = id,
            corpusParts = corpusParts, leaseOwner = owner)
          ()
        }
        .start()
      catch {
        case e: Throwable =>
          AtRest.releaseLease(spark, indexPath, owner)
          AtRest.releaseLease(spark, corpusPath, owner)
          throw e
      }
    val qid = query.id
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qid) {
          AtRest.releaseLease(spark, indexPath, owner)
          AtRest.releaseLease(spark, corpusPath, owner)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // a query that died BEFORE the listener registered never gets its
    // termination event delivered — without this check its leases would
    // sit until the TTL, blocking maintenance for ten minutes
    if (!query.isActive) {
      AtRest.releaseLease(spark, indexPath, owner)
      AtRest.releaseLease(spark, corpusPath, owner)
      spark.streams.removeListener(listener)
    }
    query
  }

  /**
   * SHARDED multi-writer ingest — N concurrent streams sharing one
   * corpus/index pair, each owning the disjoint id range
   * `pmod(xxhash64(id), nShards) = shard` (the same hash family the
   * corpus `id_part` layout uses). Each stream:
   *  - holds per-shard leases on both roots ([[AtRest.acquireShardLease]])
   *    for its lifetime — a second stream on the SAME shard fails at
   *    start(), a whole-root writer or maintenance pass fails while any
   *    shard lease is live, and mixed shard schemes fail loudly;
   *  - FILTERS its input to its own shard (so all N streams can consume
   *    the same source; [[ingestBatch]] additionally rejects misrouted
   *    rows loudly for direct callers);
   *  - namespaces its foreachBatch ids as `batchId × nShards + shard`,
   *    so batch directories, `_committed` markers, bloom tags and ledger
   *    deltas never collide across shards and each shard's exactly-once
   *    replay protocol is untouched.
   *
   * Cross-shard dedup contract: bucket keys derive from TEXT, not from
   * the writer, so a cross-shard near-duplicate pair collides in the
   * same index buckets regardless of which stream wrote each member.
   * The probe catches pairs against every batch COMMITTED at probe
   * time; pairs against batches that commit while this batch is in
   * flight are caught by the commit-mutex-serialized delta re-probe
   * inside [[ingestBatch]] (commits are total-ordered per index root;
   * each commit re-adjudicates against exactly the batches committed
   * since its probe snapshot, and the later committer's member drops).
   * Two in-flight batches racing on a cross-shard pair therefore can
   * no longer both admit. [[recheckIncremental]]/[[recheckCorpus]]
   * remain the offline backstop for banded-recall stragglers (pairs
   * LSH itself missed — a recall property, not a race).
   * [[compactMarkers]] watermarks must use the MINIMUM of the shards'
   * oldest replayable namespaced ids.
   */
  def ingestStreamSharded(docs: DataFrame, indexPath: String, corpusPath: String,
      checkpointPath: String, shard: Int, nShards: Int,
      threshold: Double = 0.7, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, nParts: Int = 16, maxBucket: Int = 1000,
      corpusParts: Int = 16): org.apache.spark.sql.streaming.StreamingQuery = {
    require(nShards > 1 && shard >= 0 && shard < nShards,
      s"ingestStreamSharded needs nShards > 1 and shard in [0, nShards): " +
        s"got $shard of $nShards (single-writer = ingestStream)")
    val spark = docs.sparkSession
    val owner = s"ckpt:$checkpointPath"
    def releaseBoth(): Unit = {
      AtRest.releaseShardLease(spark, indexPath, owner, shard, nShards)
      AtRest.releaseShardLease(spark, corpusPath, owner, shard, nShards)
    }
    AtRest.acquireShardLease(spark, indexPath, owner, shard, nShards)
    try AtRest.acquireShardLease(spark, corpusPath, owner, shard, nShards)
    catch { case e: Throwable =>
      AtRest.releaseShardLease(spark, indexPath, owner, shard, nShards); throw e
    }
    val own = docs.filter(
      pmod(xxhash64(col(idCol)), lit(nShards.toLong)) === shard)
    val query =
      try own.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          ingestBatch(b, indexPath, corpusPath, threshold, textCol, idCol,
            numHashes, bands, shingleWords, nParts, maxBucket,
            batchId = id * nShards + shard, corpusParts = corpusParts,
            leaseOwner = owner, shard = shard, nShards = nShards)
          ()
        }
        .start()
      catch { case e: Throwable => releaseBoth(); throw e }
    val qid = query.id
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == qid) {
          releaseBoth()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      releaseBoth()
      spark.streams.removeListener(listener)
    }
    query
  }

  /** Retention maintenance for the corpus's `_committed` replay markers:
   *  set the watermark to `oldestReplayable` (derive it from the ingest
   *  stream's checkpoint — typically last committed batchId, below which
   *  Spark will never replay) and sweep the markers below it. Keeps the
   *  marker count bounded by the replayable window instead of the
   *  table's lifetime batch count ([[AtRest.compactMarkers]]). */
  def compactMarkers(spark: SparkSession, corpusPath: String,
      oldestReplayable: Long): Unit = AtRest.withLease(spark, corpusPath) {
    AtRest.compactMarkers(spark, corpusPath, oldestReplayable)
  }

  // ------------------------------------------------------------- compaction

  /** A partitioned write of ZERO rows emits no files at all, which would
   *  make the compacted table unreadable (no schema to infer). Land one
   *  empty schema-bearing parquet file in that case — its layout column
   *  simply becomes a data column of the empty read. */
  private def ensureReadableIfEmpty(df: DataFrame, dir: Path): Unit = {
    val fs = fsFor(df.sparkSession, dir.toString)
    val hasData = fs.exists(dir) && fs.listStatus(dir)
      .exists(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
    if (!hasData)
      df.limit(0).write.mode("append").parquet(dir.toString)
  }

  /**
   * OFFLINE index maintenance: rewrite the whole index into one merged
   * seed batch — per-append small files collapse to one file per
   * `bucket_part` directory, buckets accreted past `maxBucket` across
   * appends drop AT REST (so the probe-side re-cap becomes a no-op), the
   * bloom sidecar collapses to one filter, and `_committed` markers are
   * preserved (a post-compaction stream restart still recognizes its
   * replayed batchIds). The rewrite stages a COMPLETE new version
   * (data + bloom) and publishes it with one atomic pointer swap — a
   * crash at any point leaves the live version intact, and a reader
   * racing the swap sees old or new, never a mix (the replaced version
   * survives one maintenance generation as reader grace). Still quiesce
   * WRITERS first: the lease enforces that loudly.
   */
  def compact(spark: SparkSession, path: String, maxBucket: Int = 1000,
      nParts: Int = 16): Unit =
      StageCoalesce.sizeBased(spark)(AtRest.withLease(spark, path) {
    val fs = fsFor(spark, path)
    val cur = AtRest.resolve(spark, path)
    val all = spark.read.parquet(cur)
      .select(pmod(xxhash64(col("band"), col("bucket")), lit(nParts)).as("bucket_part"),
        col("band"), col("bucket"), col("id"))
    // one task per layout key -> one file per partition directory
    val capped = capBuckets(all, maxBucket).repartition(nParts, col("bucket_part"))
    val (v, staging) = AtRest.nextStaging(fs, path)
    val dataDir = new Path(staging, s"ingest_batch=$SeedBatch")
    capped.write.partitionBy("bucket_part").mode("overwrite").parquet(dataDir.toString)
    ensureReadableIfEmpty(capped, dataDir)
    // one merged bloom beside the new version's data, rebuilt from the
    // COMPACTED output (merged, one file per partition — not a second scan
    // of the fragmented source), BEFORE the swap: the published version is
    // complete the instant it becomes current
    writeBloomFile(spark.read.parquet(dataDir.toString).select("band", "bucket"),
      staging.toString, "compact")
    // carry the version's signature sidecars into the new version,
    // deduped by id (at-least-once appends may repeat rows; signatures
    // are deterministic, so any copy is the copy) — compaction changes
    // the key layout, never the signatures
    val sigSrc = sigPathsIn(fs, new Path(cur))
    if (sigSrc.nonEmpty) {
      // carried AS-IS: readers dedup by id anyway (readSigs contract),
      // so compaction doesn't pay a distinct shuffle for it
      val sigs = spark.read.parquet(sigSrc.map(_.toString): _*)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      try writeSigs(sigs, staging.toString, math.max(sigs.count(), 1L))
      finally sigs.unpersist(blocking = false)
    }
    // compaction re-derives the layout but not the signature: keep the
    // stored signature params, update what this pass can change — staged
    // IN the new version, so a crash before the swap cannot leave meta
    // describing an unpublished layout (the advisor's r12 window)
    val merged = AtRest.readMeta(spark, path).getOrElse(Map("kind" -> "lsh_index")) ++
      Map("nParts" -> nParts.toString, "maxBucket" -> maxBucket.toString)
    AtRest.writeMetaStaged(spark, staging, merged)
    AtRest.publishVersion(spark, path, v)
  })

  /**
   * OFFLINE quality recheck — the "offline compaction pass can still
   * apply the transitive canonical later" promised by [[ingestBatch]]'s
   * greedy rule: the stream admits with a LOCAL drop rule and banded
   * recall < 1, so the at-rest corpus can accumulate stragglers —
   * verified near-dup clusters whose members were all admitted (across
   * distant batches, or missed by a band collision). This pass re-runs
   * the full batch near-dup pipeline over the at-rest corpus, keeps each
   * cluster's BEST member ([[Dedup.nearDupKeepBest]]; `score` defaults
   * to text length — longest survives), rewrites the corpus
   * id-addressably (staged version + atomic pointer swap), and REBUILDS
   * the index + bloom sidecar from the survivors (dropped docs' keys
   * must leave the index, or future probes fetch text for ghosts).
   * Returns the dropped-document count; 0 leaves both paths untouched.
   * Same offline/lease-fenced contract as [[compact]].
   */
  def recheckCorpus(spark: SparkSession, corpusPath: String, indexPath: String,
      threshold: Double = 0.7, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 32, bands: Int = 8, shingleWords: Int = 3,
      maxBucket: Int = 1000, nParts: Int = 16, corpusParts: Int = 16,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column = length(_))
      : Long = StageCoalesce.sizeBased(spark)(AtRest.withLease(spark, corpusPath) {
    AtRest.validateMeta(spark, corpusPath, corpusMeta(idCol, corpusParts))
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val fs = fsFor(spark, corpusPath)
    val corpus = readCorpus(spark, corpusPath).drop("ingest_batch", "id_part")
    val corpusSlim = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
    // the recheck's dominant cost was TWO full-corpus signing passes
    // (candidate generation + index rebuild). At-rest `_sigs` sidecars
    // (see SigsDir) now supply every already-admitted document's
    // signature: semi-join to the live corpus (tombstoned ghosts drop),
    // dedup by id (at-least-once appends), recompute ONLY the gap docs
    // (docs the index never signed, null ids) — signatures are deterministic
    // functions of (text, numHashes, shingleWords), so the candidate set
    // is bit-identical to a fresh signing. The rebuild below reuses the
    // same frame, so a fully-covered recheck signs nothing.
    val sig = (readSigs(spark, indexPath, numHashes, shingleWords) match {
      case Some(atRest) =>
        val have = atRest
          .join(corpusSlim.select("id"), Seq("id"), "left_semi")
          .dropDuplicates("id")
        // gap detection on IDS ONLY, then a semi-join back for the gap
        // docs' text: the corpus text column never shuffles for the gap
        // test (guide §2.3/§8 — decide with small rows), and the gap is
        // normally empty/tiny so the text fetch broadcasts. Null-safe
        // (<=>) fetch: a null-id doc can never match the id-keyed
        // sidecar, so it must ALWAYS take the gap (recompute) path —
        // a plain semi-join would silently drop its signature and make
        // bucket membership formulation-dependent on corpora carrying a
        // null id (the r17-ADVICE featureArrays bug class).
        val gapIds = corpusSlim.select(col("id").as("_gid"))
          .join(have.select("id"), col("_gid") === col("id"), "left_anti")
        val gapDocs = corpusSlim.join(gapIds, col("id") <=> col("_gid"), "left_semi")
        have.unionByName(sigFrame(gapDocs, "text", "id", numHashes, shingleWords))
      case None => sigFrame(corpusSlim, "text", "id", numHashes, shingleWords)
    }).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val pairs = Dedup.nearDuplicatesFromSigs(corpusSlim, sig, threshold,
      shingleWords, bands, numHashes / bands, maxBucket)
    val best = Dedup.nearDupKeepBest(
      corpus.withColumn("_score", score(col(textCol))), pairs, "_score", idCol)
    val dropIds = best.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nDropped = dropIds.count()
    if (nDropped > 0) {
      // corpus swap first (staged while the source is intact), then the
      // index rebuild reads the REWRITTEN corpus — one source of truth
      val survivors = withIdPart(corpus.join(dropIds, Seq(idCol), "left_anti"),
          idCol, corpusParts)
        .repartition(corpusParts, col("id_part"))
      val (v, staging) = AtRest.nextStaging(fs, corpusPath)
      val dataDir = new Path(staging, s"ingest_batch=$SeedBatch")
      survivors.write.partitionBy("id_part").mode("overwrite").parquet(dataDir.toString)
      ensureReadableIfEmpty(survivors, dataDir)
      // carry the table's meta into the new version (meta lives in the
      // version dir — a version published without one would lose the
      // sidecar once the old generation GCs)
      val metaMap = AtRest.readMeta(spark, corpusPath)
      metaMap.foreach(m => AtRest.writeMetaStaged(spark, staging, m))
      // this rewrite also folds batch dirs into the seed (see compactCorpus)
      AtRest.writeCollapseFrontier(fs, corpusPath,
        maxCommittedBatch(fs, corpusPath))
      // ledger adjustment: the removed stragglers' admitted-side counters
      // subtract back out and count under n_removed_recheck — collapsed
      // with the existing deltas into the new version, swapping atomically
      metaMap.flatMap(_.get("ledgerBy")).foreach { g =>
        val removed = corpus.join(dropIds, Seq(idCol), "left_semi")
        val adjust = admittedStatsLong(removed, g, textCol, sign = -1)
          .unionByName(countLong(removed, g, "n_removed_recheck"))
        val merged = ledgerLong(spark, AtRest.resolve(spark, corpusPath))
          .map(_.unionByName(adjust)).getOrElse(adjust)
        publishLedgerDelta(collapseLedger(merged), staging.toString, SeedBatch)
      }
      AtRest.publishVersion(spark, corpusPath, v)
      // rebuild the index from the signatures already on hand (the
      // rewritten corpus = old corpus minus dropIds, and `sig` covers
      // every old doc) — no second full-corpus signing pass; the new
      // version's _sigs sidecar carries the survivors forward
      writeAtRestFromSigs(
        sig.join(dropIds.select(col(idCol).as("id")), Seq("id"), "left_anti"),
        indexPath, numHashes, bands, shingleWords, maxBucket, nParts)
    }
    sig.unpersist(blocking = false)
    dropIds.unpersist(blocking = false)
    nDropped
  })

  // ledger-delta id namespace for recheck adjustments: stream batch ids
  // are >= 0, the seed is -1 (ad-hoc appends are REJECTED on ledgered
  // corpora — no replay identity, so their delta could double-count);
  // recheck deltas live at -1e9 - recheckId — disjoint by construction
  // across every writer of the _ledger directory
  private val RecheckLedgerBase = -1000000000L

  /**
   * INCREMENTAL recheck — [[recheckCorpus]]'s BATCH-PROPORTIONAL twin.
   * The full recheck re-signs and rewrites the whole corpus: the right
   * weekly deep-clean, but at 100 TB the wrong shape for the frequent
   * backstop pass the ingest loop actually needs (cross-shard in-flight
   * races, banded-recall stragglers, offline threshold tightening — all
   * involve RECENTLY ADMITTED documents). This pass:
   *
   *  - re-examines only docs from live batch dirs `ingest_batch >=
   *    sinceBatch` (derive `sinceBatch` from the last recheck's frontier);
   *  - finds their verified near-dup pairs against the WHOLE corpus via
   *    the same partition-pruned [[probeAtRest]] the ingest loop uses (the
   *    at-rest index supplies the old side's keys — nothing old is
   *    re-signed), so pairs between two OLD docs are out of scope by
   *    contract: the previous recheck already adjudicated them;
   *  - keeps each affected cluster's best member ([[Dedup.nearDupKeepBest]],
   *    `score` defaults to text length) — the loser may be an OLD doc
   *    (a better new copy arrived);
   *  - removes losers via TOMBSTONES (see the deletion-vector note on
   *    [[tombstoneIds]]): O(removed) bytes published with one atomic
   *    rename, instead of the full-version rewrite;
   *  - applies the ledger's negative adjustments ([[ledgerCard]] stays
   *    exact) and writes a `_committed/recheck-<recheckId>` marker, making
   *    the whole pass EXACTLY-ONCE under replay like [[ingestBatch]]: a
   *    marked recheck short-circuits, an unmarked crash leftover is
   *    un-published and recomputed against the pre-attempt state.
   *
   * Returns the tombstoned-document count. Versions don't bump (nothing
   * is rewritten); the next [[compactCorpus]]/[[recheckCorpus]] applies
   * the tombstones physically and clears the sidecar. Offline
   * lease-fenced like every maintenance pass. Scale shape: probe I/O is
   * bounded by the new docs' buckets and candidates' `id_part`
   * partitions; the only corpus-wide touch is the tombstone anti-join
   * every reader already pays, which is O(removed) side data.
   */
  def recheckSince(spark: SparkSession, corpusPath: String, indexPath: String,
      sinceBatch: Long, recheckId: Long, threshold: Double = 0.7,
      textCol: String = "text", idCol: String = "doc_id", numHashes: Int = 32,
      bands: Int = 8, shingleWords: Int = 3, maxBucket: Int = 1000,
      nParts: Int = 16, corpusParts: Int = 16,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column = length(_))
      : Long = StageCoalesce.sizeBased(spark) {
    require(recheckId >= 0, s"recheckId must be >= 0, got $recheckId")
    val fs = fsFor(spark, corpusPath)
    val marker = new Path(corpusPath, s"_committed/recheck-$recheckId")
    recheckMarkerInfo(fs, corpusPath, recheckId) match {
      case Some(m) => return m.removed
      case None => // absent or unparsable (the latter deleted) — run
    }
    AtRest.withLease(spark, corpusPath) {
      AtRest.validateMeta(spark, corpusPath, corpusMeta(idCol, corpusParts))
      val corpDir = AtRest.resolve(spark, corpusPath)
      // the highest COMMITTED batch this pass will have adjudicated —
      // snapshotted under the lease (no ingest can commit during the
      // pass) and recorded in the marker, so [[recheckIncremental]]'s
      // frontier advance derives from what was actually covered, never
      // from post-crash re-listing
      val coveredUpTo = maxCommittedBatch(fs, corpusPath)
      // un-publish a crashed earlier attempt's unmarked leftovers, so the
      // recompute below sees the exact pre-attempt corpus (the ingest
      // replay contract)
      val ledgerId = RecheckLedgerBase - recheckId
      val leftTs = new Path(tombstoneDirOf(corpDir), s"recheck=$recheckId")
      if (fs.exists(leftTs)) fs.delete(leftTs, true)
      val leftLd = new Path(ledgerDirOf(corpDir), s"ingest_batch=$ledgerId")
      if (fs.exists(leftLd)) fs.delete(leftLd, true)
      val corpus = readCorpus(spark, corpusPath)
      // maintenance (compactCorpus / a recheckCorpus rewrite) folds batch
      // dirs into the seed — when this window starts below the fold
      // frontier, the folded batches can't be scoped by dir: probe the
      // WHOLE corpus this one pass (the next window starts past
      // coveredUpTo and is incremental again)
      val fullSweep = sinceBatch < AtRest.collapseFrontier(fs, corpusPath)
      // the marker records the window the pass ACTUALLY ran from (a
      // full sweep covers from 0) — what a bootstrap may resume past
      val effSince = if (fullSweep) 0L else sinceBatch
      val newDocs =
        (if (fullSweep) corpus
         else corpus.filter(col("ingest_batch") >= sinceBatch))
          .select(col(idCol), col(textCol))
      // one probe covers BOTH pair kinds: new-vs-old (index supplies old
      // keys) and new-vs-new (both sides indexed; each pair arrives twice
      // and the least/greatest projection collapses it)
      val pairs = probeAtRest(spark, indexPath, newDocs, corpusPath, threshold,
        textCol, idCol, numHashes, bands, shingleWords, nParts, maxBucket,
        corpusParts)
      val und = pairs.select(
          least(col("batch_id"), col("corpus_id")).as("id_a"),
          greatest(col("batch_id"), col("corpus_id")).as("id_b"))
        .distinct()
      val members = und.select(col("id_a").as(idCol))
        .unionByName(und.select(col("id_b").as(idCol))).distinct()
      val memberDocs = corpus.join(members, Seq(idCol), "left_semi")
        .withColumn("_score", score(col(textCol)))
      val best = Dedup.nearDupKeepBest(memberDocs, und, "_score", idCol)
      val dropIds = best.filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id").as(idCol))
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      val n = dropIds.count()
      if (n > 0) {
        // stage the tombstone file, SNAPSHOT the ledger adjustment (a
        // bounded sources × counters collect — it must be computed against
        // the pre-publish corpus view; a lazy frame re-evaluated after the
        // rename would anti-join the very rows it is accounting for), then
        // rename, then publish the delta, then the marker — a crash
        // between any two steps replays the whole pass
        val td = tombstoneDirOf(corpDir)
        fs.mkdirs(td)
        val staging = new Path(td, s"_staging_$recheckId")
        dropIds.select(col(idCol).as("id")).coalesce(1)
          .write.mode("overwrite").parquet(staging.toString)
        val adjusted = ledgerByOf(spark, corpusPath).map { g =>
          val removed = corpus.join(dropIds, Seq(idCol), "left_semi")
          val adjust = admittedStatsLong(removed, g, textCol, sign = -1)
            .unionByName(countLong(removed, g, "n_removed_recheck"))
          (adjust.collect().toSeq, adjust.schema)
        }
        val target = new Path(td, s"recheck=$recheckId")
        if (!fs.rename(staging, target))
          throw new IllegalStateException(
            s"tombstone publish rename $staging -> $target failed")
        adjusted.foreach { case (rows, schema) =>
          import scala.jdk.CollectionConverters._
          publishLedgerDelta(spark.createDataFrame(rows.asJava, schema),
            corpDir, ledgerId)
        }
      }
      AtRest.writeFile(fs, marker,
        s"$n $coveredUpTo $effSince"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dropIds.unpersist(blocking = false)
      n
    }
  }

  /** A committed recheck pass's recorded outcome: removed count, the
   *  highest batch it covered, and the window START it actually ran
   *  from (0 = provably adjudicated everything below its coverage —
   *  what a frontier bootstrap may safely resume past; a caller-driven
   *  window start > 0 proves nothing about the batches below it). */
  private[graft] case class RecheckMarker(removed: Long, coveredUpTo: Long,
      since: Long)

  /** Parse a committed recheck marker; an unparsable one is deleted
   *  (= NOT committed), mirroring the batch-marker contract. */
  private[graft] def recheckMarkerInfo(fs: org.apache.hadoop.fs.FileSystem,
      corpusPath: String, recheckId: Long): Option[RecheckMarker] = {
    val marker = new Path(corpusPath, s"_committed/recheck-$recheckId")
    if (!fs.exists(marker)) return None
    new String(AtRest.readFile(fs, marker), java.nio.charset.StandardCharsets.UTF_8)
        .trim.split("\\s+").toSeq.map(_.toLongOption) match {
      case Seq(Some(n), Some(cov), Some(since)) => Some(RecheckMarker(n, cov, since))
      case _ => fs.delete(marker, false); None
    }
  }

  /** The highest batch id with committed history under `corpusPath`:
   *  max over the per-batch markers, floored by the compaction
   *  watermark (whose markers are gone but were committed). -1 for a
   *  seed-only corpus. */
  private[graft] def maxCommittedBatch(fs: org.apache.hadoop.fs.FileSystem,
      corpusPath: String): Long = {
    val dir = new Path(corpusPath, "_committed")
    val fromMarkers =
      if (!fs.exists(dir)) None
      else fs.listStatus(dir).iterator.flatMap { st =>
        val nm = st.getPath.getName
        if (nm.startsWith("batch-")) nm.drop(6).toLongOption else None
      }.maxOption
    val fromWatermark = AtRest.markerWatermark(fs, corpusPath).map(_ - 1)
    (fromMarkers.toSeq ++ fromWatermark.toSeq).maxOption.getOrElse(-1L)
  }

  private[graft] def frontierPath(corpusPath: String) =
    new Path(corpusPath, "_committed/recheck-frontier")

  /** The persisted incremental-recheck frontier: `(nextSince, nextId)` —
   *  the first batch id not yet adjudicated and the next recheck id. */
  private[graft] def readFrontier(fs: org.apache.hadoop.fs.FileSystem,
      corpusPath: String): Option[(Long, Long)] = {
    val p = frontierPath(corpusPath)
    if (!fs.exists(p)) None
    else {
      val toks = new String(AtRest.readFile(fs, p),
        java.nio.charset.StandardCharsets.UTF_8).trim.split("\\s+").toSeq
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
   * [[recheckSince]] with ZERO caller bookkeeping — the cron-shaped
   * entry a production loop runs: the pass derives `sinceBatch` and
   * `recheckId` from the persisted `_committed/recheck-frontier`
   * marker (absent = adjudicate everything since batch 0, next id after
   * any existing recheck markers) and advances it afterwards. The
   * advance is REPLAY-SAFE because it derives from the recheck marker's
   * own recorded coverage, not from re-listing: a crash between the
   * recheck's commit and the frontier write re-runs with the same id,
   * short-circuits on the marker, and advances to exactly the range
   * that marker covered — batches ingested after the crash stay ahead
   * of the frontier and are adjudicated by the NEXT pass, never
   * skipped.
   */
  def recheckIncremental(spark: SparkSession, corpusPath: String,
      indexPath: String, threshold: Double = 0.7, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 32, bands: Int = 8,
      shingleWords: Int = 3, maxBucket: Int = 1000, nParts: Int = 16,
      corpusParts: Int = 16,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column = length(_))
      : Long = {
    val fs = fsFor(spark, corpusPath)
    val (since, id) = readFrontier(fs, corpusPath).getOrElse {
      // no frontier yet: start from batch 0, after any caller-driven
      // recheck markers already present (ids must not collide with them)
      val dir = new Path(corpusPath, "_committed")
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
          recheckMarkerInfo(fs, corpusPath, mid) match {
            case Some(RecheckMarker(_, cov, 0L)) =>
              (cov + 1L, mid + 1L)
            case _ => (0L, mid + 1L)
          }
        case None => (0L, 0L)
      }
    }
    val n = recheckSince(spark, corpusPath, indexPath, since, id, threshold,
      textCol, idCol, numHashes, bands, shingleWords, maxBucket, nParts,
      corpusParts, score)
    val nextSince = recheckMarkerInfo(fs, corpusPath, id).getOrElse(
      throw new IllegalStateException(
        s"recheck-$id committed but its marker is unreadable")).coveredUpTo + 1L
    AtRest.writeFile(fs, frontierPath(corpusPath),
      s"$nextSince ${id + 1L}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    n
  }

  /** [[compact]]'s corpus twin: collapse the per-batch corpus directories
   *  into one merged seed batch with one file per `id_part` directory —
   *  staged as a complete new version, atomic pointer swap, `_committed`
   *  markers survive. [[recheckSince]] tombstones are APPLIED (the new
   *  version is written without the removed rows and carries no
   *  `_tombstones` sidecar). Same offline/lease-fenced contract. */
  def compactCorpus(spark: SparkSession, path: String, idCol: String = "doc_id",
      nParts: Int = 16): Unit =
      StageCoalesce.sizeBased(spark)(AtRest.withLease(spark, path) {
    val fs = fsFor(spark, path)
    val cur = AtRest.resolve(spark, path)
    val all = corpusScanDir(spark, path, cur)
      .drop("ingest_batch", "id_part")
    val laid = withIdPart(all, idCol, nParts).repartition(nParts, col("id_part"))
    val (v, staging) = AtRest.nextStaging(fs, path)
    val dataDir = new Path(staging, s"ingest_batch=$SeedBatch")
    laid.write.partitionBy("id_part").mode("overwrite").parquet(dataDir.toString)
    ensureReadableIfEmpty(laid, dataDir)
    // the ledger compacts with its corpus: all accreted deltas collapse
    // into one seed delta inside the new version (same totals, one file)
    ledgerLong(spark, cur).foreach(lf =>
      publishLedgerDelta(collapseLedger(lf), staging.toString, SeedBatch))
    val merged = AtRest.readMeta(spark, path).getOrElse(Map("kind" -> "dedup_corpus")) ++
      Map("idCol" -> idCol, "corpusParts" -> nParts.toString)
    AtRest.writeMetaStaged(spark, staging, merged)
    // batch dirs fold into the seed here: record how far, so a later
    // incremental recheck knows its window can't be scoped by dir and
    // full-sweeps the folded range once instead of silently skipping it
    AtRest.writeCollapseFrontier(fs, path, maxCommittedBatch(fs, path))
    AtRest.publishVersion(spark, path, v)
  })
}
