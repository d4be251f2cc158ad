package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over embedding columns (`array<float>`).
 *
 * Baseline: brute-force cosine top-k — probe set broadcast against the corpus
 * (one scan, no corpus shuffle; correct plan when |probes| ≪ |corpus|).
 *
 * Scale path: sign-LSH (random-hyperplane) bucketing. Hyperplanes are derived
 * deterministically from `xxhash64(dim, plane)` so the operator needs no
 * stored model; probe and corpus bucket on the same signature and only
 * same-bucket pairs are scored. At 100 TB the bucket joins shuffle ids and
 * signatures only (vectors are fetched for candidates via a semi-join);
 * multiprobe (flipping one bit) keeps recall up without widening the shuffle.
 */
object Similarity {

  /** Dot product of two float arrays as double (index-ordered, deterministic).
   *  Native codegen'd kernel — the zip_with/aggregate formulation is
   *  interpreted and allocates per element ([[graft.functions.VectorKernels]]). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.vec_cosine(a, b)

  /**
   * Per-label element-wise mean vectors (class centroids — the training half
   * of IVF/nearest-centroid classification, and the compact per-class
   * summary a curation pipeline reports). Emitted LONG-form (label, pos,
   * centroid): posexplode + one hash aggregate on (label, pos) — dim×rows
   * fan-out but no wide shuffle row, no collect, and no array re-assembly
   * (whose collect_list ordering is nondeterministic). `pos` is 1-based.
   */
  def centroids(emb: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    emb.select(col(labelCol).cast("bigint").as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("bigint").as("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("centroid"))
      .orderBy("label", "pos")

  /**
   * Brute-force top-k cosine neighbors of each probe vector.
   * probes: (probe_id, probe_vec); corpus: (idCol, vecCol).
   */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val scored = corpus.join(broadcast(probes), col("probe_id") =!= col(idCol))
      .withColumn("cos", round(cosine(col("probe_vec"), col(vecCol)), 6))
    // rank on the ROUNDED cosine (then id): ulp-level float noise in the raw
    // dot product must not decide ranks, or results differ across engines
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        col("cos").as("cosine"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** Sign-LSH signature: `planes` bits encoding sign(v · hyperplane_{offset+p})
   *  for each plane (MSB-first fold — any injective sign-pattern → long map is
   *  a valid bucket key). `planeOffset` selects an independent hyperplane
   *  family, enabling banded (multi-table) LSH without a stored model.
   *  Native codegen'd kernel ([[graft.functions.VectorKernels.signLsh]]). */
  def lshSignature(vec: Column, planes: Int, planeOffset: Int = 0): Column =
    graft.functions.VectorFunctions.sign_lsh(vec, planes, planeOffset)

  /**
   * LSH-bucketed approximate top-k: only corpus vectors whose signature
   * matches the probe's (exactly, or within one flipped bit — multiprobe)
   * are scored. Recall < 1 by construction; the ScalaTest spec measures it
   * against brute force.
   */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int, planes: Int = 12,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cSig = corpus.withColumn("sig", lshSignature(col(vecCol), planes))
    val pSig = probes.withColumn("psig", lshSignature(col("probe_vec"), planes))
    // multiprobe: probe bucket + the `planes` one-bit-flip neighbors
    val probeBuckets = pSig.select(col("probe_id"), col("probe_vec"),
      explode(array((col("psig") +: (0 until planes).map(p =>
        col("psig").bitwiseXOR(lit(1L << p)))): _*)).as("sig"))
    val scored = cSig.join(broadcast(probeBuckets), "sig")
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("cos", cosine(col("probe_vec"), col(vecCol)))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /**
   * IVF (inverted-file) approximate top-k — the classic ANN scale path next
   * to LSH: a small deterministic "codebook" of centroid vectors partitions
   * the corpus into lists; probes score only the `nProbe` nearest lists.
   *
   * Centroids are a deterministic pseudo-random sample of the corpus
   * (ordered by xxhash64(id), one driver-side collect of `nLists` vectors —
   * the bounded "trained model", not a data collect). Assignment is a
   * scan-local argmax of cosine against the broadcast-literal centroids, so
   * corpus rows shuffle once on list_id at any scale; at 100 TB the list_id
   * column would be written as a partition key so probes prune scans.
   */
  /** The IVF "training" step: a deterministic pseudo-random sample of
   *  `nLists` corpus vectors (ordered by xxhash64(id)) as the codebook —
   *  ONE bounded driver collect of nLists rows, not a data collect. */
  def ivfCodebook(corpus: DataFrame, nLists: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Float]] =
    corpus.select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)))
      .limit(nLists)
      .collect()
      .map(_.getSeq[Float](1).toSeq).toSeq

  /** All lists ranked by cosine against `vec` (scan-local: the codebook is
   *  inlined as literals). element 1 = the assignment. */
  private def ivfRanked(centroids: Seq[Seq[Float]])(vec: Column): Column = {
    import org.apache.spark.sql.functions.typedLit
    sort_array(array(centroids.zipWithIndex.map { case (c, j) =>
      struct(cosine(vec, typedLit(c)).as("cos"), lit(j).as("list"))
    }: _*), asc = false)
  }

  /** Corpus with its IVF `list_id` column — what a 100 TB pipeline writes
   *  partitioned by `list_id` so probe scans prune whole partitions
   *  (demonstrated in SketchSpec). */
  def ivfAssign(corpus: DataFrame, centroids: Seq[Seq[Float]],
      vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("list_id",
      element_at(ivfRanked(centroids)(col(vecCol)), 1).getField("list"))

  /** MULTI-ASSIGNMENT: each vector lands in its `replicas` nearest lists
   *  (`replicas = 1` degenerates to [[ivfAssign]]). The standard
   *  recall/storage trade for boundary vectors — a true neighbor sitting
   *  just across a Voronoi boundary is invisible to a pruned probe under
   *  single assignment, but its replica in the adjacent list is not. The
   *  probe still plans exactly `nProbe` partitions; storage and list
   *  scan width grow `replicas`×, and the measured curve on THIS corpus
   *  (q_sim_recall pins, nLists=16) moves 0.46→0.59 recall@10 at
   *  nProbe=2 and 0.59→0.84 at nProbe=4 for replicas=2. Readers dedupe
   *  candidates per (probe, id) — [[ivfTopKAtRest]] does this when the
   *  table's meta declares `replicas > 1`. */
  def ivfAssignMulti(corpus: DataFrame, centroids: Seq[Seq[Float]],
      vecCol: String = "embedding", replicas: Int = 1): DataFrame =
    if (replicas <= 1) ivfAssign(corpus, centroids, vecCol)
    else corpus.withColumn("list_id",
      explode(transform(
        slice(ivfRanked(centroids)(col(vecCol)), 1, math.min(replicas, centroids.length)),
        a => a.getField("list"))))

  /** The `nProbe` nearest lists per probe, exploded to (probe, list_id). */
  def ivfProbeLists(probes: DataFrame, centroids: Seq[Seq[Float]],
      nProbe: Int): DataFrame =
    probes.select(col("probe_id"), col("probe_vec"),
      explode(transform(slice(ivfRanked(centroids)(col("probe_vec")), 1, nProbe),
        a => a.getField("list"))).as("list_id"))

  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCodebook(corpus, nLists, idCol, vecCol)
    val assigned = ivfAssign(corpus, centroids, vecCol)
    scoreProbeLists(assigned, probes, centroids, k, nProbe, idCol, vecCol)
  }

  /** [[ivfTopK]] under a CALLER-SUPPLIED codebook (e.g. one produced by
   *  [[ivfTrainKmeans]]/[[ivfRetrain]]) — the in-memory comparator for
   *  at-rest probes of the same model. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, centroids: Seq[Seq[Float]],
      k: Int, nProbe: Int, idCol: String, vecCol: String): DataFrame =
    scoreProbeLists(ivfAssign(corpus, centroids, vecCol), probes, centroids,
      k, nProbe, idCol, vecCol)

  /** Shared scoring tail of the in-memory and at-rest IVF paths: join the
   *  assigned corpus to the broadcast probe→list fan-out, score candidates,
   *  rank per probe. */
  private def scoreProbeLists(assigned: DataFrame, probes: DataFrame,
      centroids: Seq[Seq[Float]], k: Int, nProbe: Int,
      idCol: String, vecCol: String, dedupe: Boolean = false): DataFrame = {
    val probeLists = ivfProbeLists(probes, centroids, nProbe)
    val scored0 = assigned.join(broadcast(probeLists), "list_id")
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("cos", cosine(col("probe_vec"), col(vecCol)))
    // a multi-assigned table can surface the same (probe, vector) pair
    // through several wanted lists — collapse before ranking, or the
    // duplicate would consume a top-k slot. Only paid when the table
    // declares replicas > 1 (the extra exchange is real).
    val scored = if (dedupe) scored0.dropDuplicates("probe_id", idCol) else scored0
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  // ------------------------------------------------------- codebook sidecar

  /** The codebook persisted BESIDE the data it assigned — in the VERSION
   *  directory, so a retrain's rewrite and its new codebook swap in
   *  atomically together (a root-level codebook would open a window where
   *  probes pair a new codebook with old assignments or vice versa).
   *  Text format, float bits, exact roundtrip. */
  private def codebookFile(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_codebook/codebook.txt")

  private def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String, cb: Seq[Seq[Float]]): Unit = {
    val body = s"${cb.length} ${cb.headOption.map(_.length).getOrElse(0)}\n" +
      cb.map(_.map(java.lang.Float.floatToIntBits).mkString(" ")).mkString("\n")
    AtRest.writeFile(AtRest.fsFor(spark, dir), codebookFile(dir),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The codebook persisted with the table's CURRENT version — what
   *  probes/appends should use; None until an adopting append writes it. */
  def readCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Seq[Seq[Float]]] = {
    val dir = AtRest.resolve(spark, path)
    val fs = AtRest.fsFor(spark, dir)
    val f = codebookFile(dir)
    if (!fs.exists(f)) None
    else {
      val lines = new String(AtRest.readFile(fs, f),
        java.nio.charset.StandardCharsets.UTF_8).trim.linesIterator.toSeq
      Some(lines.drop(1).map(_.split(" ")
        .map(s => java.lang.Float.intBitsToFloat(s.toInt)).toSeq))
    }
  }

  private def sameCodebook(a: Seq[Seq[Float]], b: Seq[Seq[Float]]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (f, g) =>
        java.lang.Float.floatToIntBits(f) == java.lang.Float.floatToIntBits(g) } }

  /** A caller-supplied codebook must BIT-MATCH the persisted one — a
   *  stale codebook against a retrained table silently mis-prunes
   *  (wrong lists probed, wrong results); the sidecar makes it loud. */
  private def validateCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String, centroids: Seq[Seq[Float]]): Unit =
    readCodebook(spark, path).foreach { stored =>
      if (!sameCodebook(stored, centroids))
        throw new IllegalStateException(
          s"caller codebook does not match the one persisted beside $path " +
            "(a stale codebook silently mis-prunes probes and mis-assigns " +
            "appends) — reload it with Similarity.readCodebook, or rewrite " +
            "the table with ivfWriteAtRest/ivfRetrain")
    }

  private def storedCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Float]] =
    readCodebook(spark, path).getOrElse(throw new IllegalStateException(
      s"$path has no persisted codebook — pass the " +
        "centroids explicitly, or re-seed with ivfWriteAtRest"))

  /** Every at-rest IVF data write lands through here: rows sort by
   *  (list_id, id) within each write task and pages cap at 2048 rows, so
   *  every list file carries a TIGHT per-page id index — the layout that
   *  lets the rerank point-fetch's chunked-In pushdown SKIP pages
   *  instead of re-reading the wanted lists' full vector pages (the
   *  round-15 byte tables in SCALE.md; page skipping's quantum is the
   *  filter column's page row count). Costs ~nothing at write time: a
   *  task-local sort plus a few more page headers at rest. */
  private def writeListData(df: DataFrame, idCol: String, mode: String,
      target: String): Unit = {
    // paths that can't know the table's id column (compact/enablePq on a
    // foreign-id table) still get the layout, just without the id sort
    val sorted =
      if (df.columns.contains(idCol))
        df.sortWithinPartitions(col("list_id"), col(idCol))
      else df.sortWithinPartitions(col("list_id"))
    sorted.write.partitionBy("list_id")
      .option("parquet.page.row.count.limit", "2048")
      .mode(mode).parquet(target)
  }

  /** The version dir an appending writer publishes into. A fresh path
   *  adopts the caller's table: meta first (it creates `_v0`), then the
   *  codebook — a crash in between leaves a table whose next append
   *  writes the codebook. Concurrent sharded adopters write identical
   *  files, so a lost rename race is benign once the codebook matches. */
  private def adoptDir(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[Seq[Float]], idCol: String): String = {
    if (AtRest.readMeta(spark, path).isEmpty)
      AtRest.validateOrAdoptMeta(spark, path, ivfMeta(centroids, idCol = idCol))
    val dir = AtRest.resolve(spark, path)
    if (readCodebook(spark, path).isEmpty)
      try writeCodebook(spark, dir, centroids)
      catch { case _: IllegalStateException => validateCodebook(spark, path, centroids) }
    dir
  }

  private def ivfMeta(cb: Seq[Seq[Float]], replicas: Int = 1,
      idCol: String = "vec_id",
      lsh: Option[(Int, Int)] = None): Map[String, String] = Map(
    "kind" -> "ivf_table", "nLists" -> cb.length.toString,
    "dim" -> cb.headOption.map(_.length).getOrElse(0).toString,
    "replicas" -> math.max(replicas, 1).toString,
    "idCol" -> idCol) ++
    lsh.map { case (p, t) =>
      Map("lshPlanes" -> p.toString, "lshTables" -> t.toString)
    }.getOrElse(Map.empty)

  /** The table's id column as recorded at seed time; a fresh path
   *  reads as the default. Maintenance rewrites consult THIS (not
   *  a caller parameter) so the id-sorted page layout survives
   *  compact/enablePq on custom-id tables. */
  private def ivfIdColOf(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    AtRest.readMeta(spark, path).flatMap(_.get("idCol")).getOrElse("vec_id")

  /** Loud mismatch between a caller-passed idCol and the one the table
   *  was seeded with — a silent mismatch would mis-sort the layout and
   *  desync the ledger/recheck identity space. */
  private def requireIdCol(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): Unit =
    AtRest.readMeta(spark, path).flatMap(_.get("idCol")).foreach { stored =>
      require(stored == idCol,
        s"$path was seeded with idCol='$stored' but the caller passed " +
          s"'$idCol' — pass the table's own id column")
    }

  /** The table's multi-assignment factor (1 = classic single assignment). */
  private def ivfReplicasOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Int =
    AtRest.readMeta(spark, path).flatMap(_.get("replicas"))
      .flatMap(_.toIntOption).getOrElse(1)

  /** Whether the table stores PQ codes WITHOUT raw vectors. */
  private def ivfCodesOnlyOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean =
    AtRest.readMeta(spark, path).flatMap(_.get("codesOnly")).contains("true")

  /** The vector-dependent entry points fail loudly on a codes-only table
   *  instead of dying mid-job on a missing column. */
  private def rejectCodesOnly(spark: org.apache.spark.sql.SparkSession,
      path: String, what: String, fix: String): Unit =
    if (ivfCodesOnlyOf(spark, path))
      throw new IllegalStateException(
        s"$path is a codes-only IVF-PQ table (no raw vectors at rest) — " +
          s"$what needs them; $fix")

  // ------------------------------------------------ persisted LSH signatures
  //
  // The offline near-dup recheck's pair search runs on banded sign-LSH
  // signatures. Computing them per pass prices every recheck — even a
  // one-batch incremental window — at a full table scan of the VECTORS
  // (tables × planes × dim dot products per row; on a codes-only table a
  // full external-store fetch): the decade bench measured 4.25× wall at
  // 10× data for a fixed-size window. So the signatures persist AT REST
  // beside pq_code — computed once per vector at seed/ingest, carried
  // through compact/retrain/recheck rewrites like the codes — and a
  // recheck pass joins them instead of re-signing: the sweep reads one
  // narrow (id, sigs) column pair and fetches raw vectors only for the
  // candidate pairs' exact verification. `_meta.json` records the scheme
  // (`lshPlanes`/`lshTables`) — signatures are only valid under the
  // scheme that produced them, so a scheme change forces a loud re-sign
  // ([[ivfResign]], or the automatic upgrade a FULL sweep performs when
  // the table has outgrown its recorded scheme).

  /** The persisted signature column: `lshTables` ints, element `t` =
   *  sign-LSH over hyperplane family `t × planes` (fits int: planes ≤ 30). */
  val LshSigCol = "lsh_sigs"

  /** Signature width that keeps bucket loads bounded as the table grows:
   *  ≈ log2(n) + 1 bits, so the expected per-table bucket occupancy stays
   *  ~0.5 rows and the bucket self-join stays ~linear in n — held FIXED, a
   *  decade-up multiplies per-bucket load 10× and candidate pairs ~100×
   *  (the r16 decade bench's own lesson). Clamped to [8, 30]. */
  def autoLshPlanes(n: Long): Int = {
    val m = math.max(n, 2L)
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    math.min(30, math.max(8, ceilLog2 + 1))
  }

  /** Table count that HOLDS the 16-plane/4-table design recall for pairs
   *  at `designThreshold` as planes grow: per-plane agreement p = 1 −
   *  θ/π, per-table recall p^planes, so matching (1−p^16)^4 needs
   *  T ≈ 4·p^(16−planes) tables — tables grow geometrically (~1.11× per
   *  extra plane at θ = acos 0.95) while the bucket join stays linear.
   *  Clamped to [4, 32]; below 16 planes the design recall only rises. */
  def autoLshTables(planes: Int, designThreshold: Double = 0.95): Int = {
    val p = 1.0 - math.acos(math.min(math.max(designThreshold, -1.0), 1.0)) / math.Pi
    val t = 4.0 * math.pow(p, (16 - planes).toDouble)
    math.min(32, math.max(4, math.ceil(t - 1e-9).toInt))
  }

  /** Append the persisted signature column (see [[LshSigCol]]). Applied
   *  BEFORE replica fan-out so each vector signs once. */
  private def withLshSigs(df: DataFrame, vecCol: String,
      planes: Int, tables: Int): DataFrame =
    df.withColumn(LshSigCol, array((0 until tables).map(t =>
      lshSignature(col(vecCol), planes, t * planes).cast("int")): _*))

  /** The table's recorded signature scheme (planes, tables), if signed. */
  private[graft] def lshSchemeOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Int, Int)] =
    AtRest.readMeta(spark, path).flatMap { m =>
      for {
        p <- m.get("lshPlanes").flatMap(_.toIntOption)
        t <- m.get("lshTables").flatMap(_.toIntOption)
      } yield (p, t)
    }

  /** Explode a persisted-signature frame to the (id, tbl, sig) shape the
   *  bucket join consumes. */
  private def explodeSigs(base: DataFrame, idCol: String): DataFrame =
    base.select(col(idCol).as("id"),
      posexplode(col(LshSigCol)).as(Seq("tbl", "sig")))

  // ---------------------------------------------------------- at-rest table

  /** The at-rest IVF table as a DataFrame (current version resolved) —
   *  the supported external read; a raw `spark.read.parquet(root)` on a
   *  versioned root fails loudly by design. */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(AtRest.resolve(spark, path))

  /** Persist the assigned corpus AT REST, `partitionBy(list_id)` — the
   *  100 TB layout: each inverted list is its own partition directory, so
   *  a probe query's `list_id` filter prunes entire lists at PLANNING time
   *  (the scan never lists, opens, or reads the other lists' files).
   *  Staged as a complete version (data + codebook sidecar) and published
   *  with one atomic pointer swap; `_meta.json` records nLists/dim and a
   *  fresh seed resets the `_committed` replay markers. */
  /** `lshPlanes`/`lshTables`: the persisted-signature scheme (see the
   *  [[LshSigCol]] section). 0 = auto-size from the seed's row count
   *  ([[autoLshPlanes]]/[[autoLshTables]] — one extra count job at seed
   *  time); −1 disables signing (rechecks then re-sign in-flight every
   *  pass — the pre-r17 shape; only for tables that will never be
   *  swept). */
  def ivfWriteAtRest(corpus: DataFrame, centroids: Seq[Seq[Float]],
      path: String, vecCol: String = "embedding",
      ledgerBy: String = null, replicas: Int = 1,
      pqModel: Seq[Seq[Seq[Float]]] = null,
      codesOnly: Boolean = false, pqResidual: Boolean = false,
      idCol: String = "vec_id",
      skipConventionCheck: Boolean = false,
      lshPlanes: Int = 0, lshTables: Int = 0): Unit = {
    val spark = corpus.sparkSession
    // the id column seeds the table's PERMANENT identity space (_meta.json
    // idCol): a typo here would silently record the wrong name and poison
    // every later probe/append/maintenance call that passes the real one —
    // fail at seed time, where it is fixable
    require(corpus.columns.contains(idCol),
      s"idCol='$idCol' is not a column of the seed corpus " +
        s"(got ${corpus.columns.mkString("[", ", ", "]")}) — pass the " +
        "corpus's own id column; it is recorded in _meta.json as the " +
        "table's identity space")
    require(!codesOnly || pqModel != null,
      "codesOnly = true stores nothing but PQ codes — pass pqModel")
    require(!pqResidual || pqModel != null,
      "pqResidual = true describes the pqModel's encoding — pass pqModel " +
        "(trained with pqTrainResidual against these centroids)")
    AtRest.withLease(spark, path) {
      val fs = AtRest.fsFor(spark, path)
      val (v, staging) = AtRest.nextStaging(fs, path)
      // sign BEFORE replica fan-out (one signature set per vector); the
      // scheme auto-sizes from the seed count unless pinned or disabled
      val lshScheme: Option[(Int, Int)] =
        if (lshPlanes < 0) None
        else {
          val p = if (lshPlanes > 0) lshPlanes
            else autoLshPlanes(corpus.count())
          val t = if (lshTables > 0) lshTables else autoLshTables(p)
          Some((p, t))
        }
      val signed = lshScheme.fold(corpus) { case (p, t) =>
        withLshSigs(corpus, vecCol, p, t)
      }
      val assigned = ivfAssignMulti(signed, centroids, vecCol, replicas)
      // IVF-PQ layout: each row also carries its m-byte PQ code, and the
      // model persists beside the data it encoded — probes then scan
      // codes, not embeddings (ivfPqTopKAtRest). codesOnly additionally
      // DROPS the raw vectors: the measured 19.8× at-rest shrink
      // (SCALE.md / tools.PqBench) — exact rerank is then served from a
      // caller-supplied id-addressable vector store (`rerankFrom`).
      // pqResidual: codes quantize `normalized(v) − centroid[list]`
      // (FAISS-style IVF-PQ; [[pqTrainResidual]]) — probes add the exact
      // probe·centroid term back at scoring time.
      // skipConventionCheck: the convention heuristic compares relative
      // quantization error both ways on a data sample — data that has
      // DRIFTED far from the model's training distribution (re-seeding a
      // new corpus slice with an older model) can trip a false positive;
      // the flag is the documented override for exactly that case. The
      // dim match always holds (it is structural, not statistical).
      Option(pqModel).foreach { mdl =>
        requirePqDimMatch(mdl, centroids)
        if (!skipConventionCheck)
          requirePqConventionMatch(conventionSample(corpus, vecCol), centroids,
            mdl, pqResidual)
      }
      val withCodes = Option(pqModel).fold(assigned)(m =>
        if (pqResidual) pqEncodeResidual(assigned, centroids, m, vecCol)
        else pqEncode(assigned, m, vecCol))
      writeListData(if (codesOnly) withCodes.drop(vecCol) else withCodes,
        idCol, "overwrite",
        new org.apache.hadoop.fs.Path(staging, "ingest_batch=-1").toString)
      writeCodebook(spark, staging.toString, centroids)
      Option(pqModel).foreach(pqWriteModel(spark, staging.toString, _, pqResidual))
      // seed the vector-stats ledger INSIDE the staged version, so data,
      // codebook, meta and ledger swap in atomically together
      Option(ledgerBy).foreach { g =>
        require(corpus.columns.contains(g),
          s"ledgerBy=$g is not a column of the seed corpus " +
            s"(got ${corpus.columns.mkString("[", ", ", "]")})")
        DedupIndex.publishLedgerDelta(
          DedupIndex.countLong(corpus, g, "n_vecs"),
          staging.toString, DedupIndex.SeedBatch)
      }
      AtRest.writeMetaStaged(spark, staging,
        ivfMeta(centroids, replicas, idCol, lshScheme)
          ++ Option(ledgerBy).map("ledgerBy" -> _)
          ++ (if (codesOnly) Map("codesOnly" -> "true") else Map.empty))
      val markers = new org.apache.hadoop.fs.Path(path, "_committed")
      if (fs.exists(markers)) fs.delete(markers, true)
      AtRest.publishVersion(spark, path, v)
    }
  }

  /** Vector INGEST for the at-rest IVF table: newly-arrived embeddings
   *  assign to the EXISTING centroids (the codebook is the trained model —
   *  appends must not re-train it, or every prior list assignment drifts;
   *  the caller's codebook validates against the persisted sidecar) and
   *  land in their lists' partition directories. Probes see them on the
   *  next read with the same nProbe pruning; lease-fenced single writer.
   *  Periodic re-training + full rewrite ([[ivfRetrain]]) handles
   *  codebook drift once appended mass dominates. */
  def ivfAppendAtRest(newVecs: DataFrame, centroids: Seq[Seq[Float]],
      path: String, vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val spark = newVecs.sparkSession
    AtRest.withLease(spark, path) {
      // an ad-hoc append has no replay identity, so it cannot maintain the
      // exactly-once stats ledger — same contract as the corpus twin
      if (ivfLedgerByOf(spark, path).isDefined)
        throw new IllegalArgumentException(
          s"$path maintains an exactly-once vector-stats ledger, which an " +
            "ad-hoc append cannot honor — ingest through ivfIngestBatch " +
            "with a stable batchId >= 0 (or ivfIngestStream)")
      validateCodebook(spark, path, centroids)
      requireIdCol(spark, path, idCol)
      // same seed-time guard as ivfWriteAtRest: a wrong idCol here would
      // write rows without the table's id column (writeListData silently
      // skips the id sort) and — on the adoption path below — record the
      // wrong identity space in _meta.json permanently
      require(newVecs.columns.contains(idCol),
        s"idCol='$idCol' is not a column of the append frame " +
          s"(got ${newVecs.columns.mkString("[", ", ", "]")}) — pass the " +
          "table's own id column")
      // ad-hoc appends land in the seed batch dir
      val target = new org.apache.hadoop.fs.Path(
        adoptDir(spark, path, centroids, idCol), "ingest_batch=-1").toString
      // a signed table signs its appends under the RECORDED scheme, so
      // every at-rest row carries comparable signatures (schema stays
      // homogeneous across batch dirs); unsigned tables stay unsigned
      val preSigned = lshSchemeOf(spark, path).fold(newVecs) { case (p, t) =>
        withLshSigs(newVecs, vecCol, p, t)
      }
      val encoded = withPqCodes(
        ivfAssignMulti(preSigned, centroids, vecCol, ivfReplicasOf(spark, path)),
        spark, path, vecCol)
      // a codes-only table stays codes-only: the append assigns + encodes,
      // then drops the raw vectors like the seed write did
      writeListData(
        if (ivfCodesOnlyOf(spark, path)) encoded.drop(vecCol) else encoded,
        idCol, "append", target)
    }
  }

  /**
   * Lloyd's k-means on the embedding column — the IVF (re-)training step.
   * DETERMINISTIC K-MEANS++ init: the hash-min vector seeds the
   * codebook, then each next centroid is drawn with probability
   * proportional to its cosine distance from the chosen set — the
   * classic d²-weighting, realized WITHOUT an RNG as an
   * Efraimidis–Spirakis exponential race (key = d / −ln(u) with u a
   * hash-uniform of (id, round); the max key IS an exact
   * weight-proportional draw, and it is a scan-local fold +
   * TakeOrdered(1), one bounded row per round). d²-weighting is the
   * part a plain hash sample and a farthest-first sweep each get half
   * right: the sample is mass-aware but lands co-located seeds on
   * unclustered data (crowding lists), farthest-first spreads seeds but
   * starves dense regions (a 10× drifted cluster keeps 1–2 seeds and
   * stays crowded after Lloyd's — the retrain spec's exact scenario);
   * ++ is both, and moved q_sim_recall's pinned curve ~0.2 recall@10.
   * Then `iters` spherical assign/average rounds: each round is one
   * scan-local argmax (centroids inlined as literals, no join) plus one
   * (nLists × dim)-row aggregate; only the codebook itself — nLists
   * vectors — ever reaches the driver. Lists that collect no members
   * keep their previous centroid. At 100 TB run this over a sample —
   * the init's nLists scans and Lloyd's per-round scan both price by
   * the training frame, not the table.
   */
  def ivfTrainKmeans(corpus: DataFrame, nLists: Int = 16, iters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxTrainRows: Long = 0): Seq[Seq[Float]] =
      StageCoalesce.sizeBased(corpus.sparkSession) {
    val base = corpus.select(col(idCol), col(vecCol))
    if (maxTrainRows > 0) {
      val n = base.count()
      if (n > maxTrainRows) {
        // dim-aware clamp: the rows bound alone under-protects the driver
        // on wide embeddings (see MaxTrainBytesKey)
        val eff = byteCappedTrainRows(base.sparkSession, maxTrainRows,
          vecDim(base, vecCol))
        return kmeansLocal(collectTrainSample(base, idCol, vecCol, n, eff),
          nLists, iters)
      }
    }
    trainKmeansOn(base, nLists, iters, idCol, vecCol)
  }

  /** The bounded training sample COLLECTED for driver-local k-means:
   *  `(xxhash64(id), vector)` rows of the deterministic hash-cut, sorted
   *  by the hash so the result is independent of partitioning. Bounded by
   *  `maxTrainRows` (the model-training bound, ≤ 65536 by every caller's
   *  default — ≤ 16 MB at dim 64), NOT a data collect. */
  private def collectTrainSample(base: DataFrame, idCol: String, vecCol: String,
      nRows: Long, maxTrainRows: Long): Array[(Long, Array[Float])] =
    collectSampled(sampleCut(base, idCol, nRows, maxTrainRows).getOrElse(base),
      idCol, vecCol, maxTrainRows)

  /** Collect an already hash-cut training frame as `(xxhash64(id), vector)`
   *  rows, hash-sorted (partitioning-independent), id-deduped. The
   *  `maxRows` limit makes the driver bound HARD: the hash-cut's fraction
   *  floors at 1/[[SampleDenom]], so past SampleDenom × maxRows table
   *  rows the cut alone over-delivers — orderBy(hash).limit turns the
   *  collect into a TakeOrdered of exactly maxRows rows (a deterministic
   *  hash-prefix sample; the same rows the sort-then-truncate would
   *  keep), so driver memory is bounded BEFORE materialization, not
   *  after. */
  private def collectSampled(df: DataFrame, idCol: String,
      vecCol: String, maxRows: Long): Array[(Long, Array[Float])] =
    df.filter(col(vecCol).isNotNull)
      .select(xxhash64(col(idCol)).as("_h"), col(vecCol))
      .orderBy(col("_h"))
      .limit(math.min(maxRows, Int.MaxValue.toLong).toInt)
      .collect() // bounded: <= maxRows rows, the training sample
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .distinctBy(_._1) // replicas of one id collapse (same hash, same vector)

  /**
   * Driver-local spherical k-means++ over the collected sample — the
   * sampled-training fast path: the distributed formulation's nLists
   * sequential TakeOrdered rounds plus per-iteration Lloyd scans collapse
   * into plain arithmetic on ≤ maxTrainRows vectors (a few ms), which is
   * exactly how production ANN systems train coarse codebooks at scale
   * (sample → in-memory k-means → distributed assignment). Same algorithm
   * as [[trainKmeansOn]]: Efraimidis–Spirakis d-weighted ++ init with
   * hash-uniform draws (u from xxhash64(idHash, round) — deterministic,
   * no RNG), spherical Lloyd updates, empty lists keep their centroid.
   * Draw values differ from the distributed path's (the hash composes
   * over the id hash, not the id) — both are valid weight-proportional
   * draws; determinism is per-path.
   */
  private def kmeansLocal(sample: Array[(Long, Array[Float])], nLists: Int,
      iters: Int): Seq[Seq[Float]] = {
    require(sample.nonEmpty, "k-means training: empty sample")
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = sample.length
    val dim = sample(0)._2.length
    def normalize(v: Array[Float]): Array[Double] = {
      val a = new Array[Double](v.length)
      var s = 0.0
      var i = 0
      while (i < v.length) { a(i) = v(i); s += a(i) * a(i); i += 1 }
      if (s > 0) { val inv = 1.0 / math.sqrt(s); i = 0
        while (i < v.length) { a(i) *= inv; i += 1 } }
      a
    }
    val unit = sample.map(r => normalize(r._2))
    def cosTo(c: Array[Double], i: Int): Double = {
      val u = unit(i)
      var s = 0.0
      var t = 0
      val m = math.min(c.length, u.length)
      while (t < m) { s += c(t) * u(t); t += 1 }
      s
    }
    // ++ init: seed = min-hash row; then argmax of d / -ln(u) per round
    // (an unchosen row always exists under the loop condition, and every
    // candidate's key >= 0 > the sentinel, so each round picks exactly
    // one). Each point's best cosine to the chosen set is CACHED and
    // refreshed against only the newly added center — O(k·n·dim), the
    // standard ++ formulation; recomputing against all centers per round
    // would be O(k²·n·dim), minutes of driver CPU at nLists=256/dim=768.
    val chosen = new Array[Boolean](n)
    chosen(0) = true
    val centers = scala.collection.mutable.ArrayBuffer(unit(0).clone())
    val bestCos = Array.fill(n)(Double.MinValue)
    def refresh(c: Array[Double]): Unit = {
      var i = 0
      while (i < n) {
        val v = cosTo(c, i)
        if (v > bestCos(i)) bestCos(i) = v
        i += 1
      }
    }
    refresh(centers(0))
    var round = 1
    while (centers.length < math.min(nLists, n)) {
      var bestKey = Double.MinValue
      var bestI = -1
      var i = 0
      while (i < n) {
        if (!chosen(i)) {
          val d = math.max(0.0, 1.0 - bestCos(i))
          val h = XXH64.hashLong(sample(i)._1, round)
          val u = (((h % 1000000000L) + 1000000000L) % 1000000000L + 0.5) / 1e9
          val key = d / -math.log(u)
          if (key > bestKey || (key == bestKey && bestI >= 0 &&
              sample(i)._1 < sample(bestI)._1)) { bestKey = key; bestI = i }
        }
        i += 1
      }
      chosen(bestI) = true
      centers += unit(bestI).clone()
      refresh(centers.last)
      round += 1
    }
    var cb = centers.toArray
    for (_ <- 0 until iters) {
      // assignment is by COSINE: normalize each centroid once per round
      // (the spherical mean is NOT unit-norm, and a raw dot would bias
      // the argmax toward high-norm centroids)
      val cbN = cb.map { c =>
        val nrm = math.sqrt(c.foldLeft(0.0)((s, x) => s + x * x))
        if (nrm > 0) c.map(_ / nrm) else c
      }
      val sums = Array.fill(cb.length)(new Array[Double](dim))
      val counts = new Array[Long](cb.length)
      var i = 0
      while (i < n) {
        // argmax cosine; ties take the higher list index (the distributed
        // sort_array(desc) convention)
        var best = 0; var bestCos = Double.MinValue
        var j = 0
        while (j < cb.length) {
          val v = cosTo(cbN(j), i)
          if (v >= bestCos) { bestCos = v; best = j }
          j += 1
        }
        // spherical update: average the normalized members
        var nrm = 0.0
        var t = 0
        while (t < unit(i).length) { nrm += unit(i)(t) * unit(i)(t); t += 1 }
        if (nrm > 0) {
          counts(best) += 1
          t = 0
          while (t < math.min(dim, unit(i).length)) {
            sums(best)(t) += unit(i)(t); t += 1
          }
        }
        i += 1
      }
      cb = cb.zipWithIndex.map { case (old, j) =>
        if (counts(j) == 0) old else sums(j).map(_ / counts(j))
      }
    }
    cb.map(_.map(_.toFloat).toSeq).toSeq
  }

  /** The deterministic training-sample bound behind `maxTrainRows` — the
   *  knob SCALE.md's "run training over a sample at 100 TB" guidance now
   *  enforces: keep rows where `pmod(xxhash64(id), 1e6) < k` (no RNG, the
   *  same id always lands the same side), sized so ~`maxTrainRows` rows
   *  survive, then compact to few partitions — the init's TakeOrdered
   *  rounds and the Lloyd scans price by THIS frame's size and task
   *  count, not the table's. */
  private val SampleDenom = 1000000L

  /** Session conf: BYTE ceiling for the driver-local training collect
   *  (default 256 MiB). `maxTrainRows` alone is a rows-only bound — 64k
   *  rows are ~16 MB at dim 64 but ~1 GiB at dim 4096, so the knob
   *  designed to protect the driver could still OOM it on wide
   *  embeddings. The effective bound is
   *  `min(maxTrainRows, maxTrainBytes / (dim × 4))`, clamped BEFORE the
   *  hash-cut so both the distributed sample and the collect shrink
   *  together, and enforced HARD at the collect by a TakeOrdered(limit)
   *  — the hash-cut's fraction floors at 1/SampleDenom, so past
   *  SampleDenom × bound table rows the cut alone would over-deliver;
   *  a clamp is announced loudly on stderr (the sample got smaller than
   *  the caller asked for — model quality, not correctness). */
  val MaxTrainBytesKey = "spark.graft.ann.maxTrainBytes"

  /** Test seam: observes (requestedRows, effectiveRows) whenever a
   *  driver-local training bound resolves, so a spec can assert the
   *  byte clamp without parsing stderr. A no-op in production. */
  private[graft] var onTrainSampleBound: (Long, Long) => Unit = (_, _) => ()

  /** The dim-aware training-row bound: `maxTrainRows` clamped so the
   *  collected sample stays under [[MaxTrainBytesKey]] bytes of raw
   *  float32 (`rows × dim × 4` — the JVM row overhead rides on top, the
   *  conf default leaves ample headroom under any sane driver heap). */
  private def byteCappedTrainRows(spark: org.apache.spark.sql.SparkSession,
      maxTrainRows: Long, dim: Int): Long = {
    val maxBytes = spark.conf.getOption(MaxTrainBytesKey)
      .map(_.trim.toLong).getOrElse(256L << 20)
    val rowBytes = math.max(dim.toLong * 4L, 1L)
    val eff = math.max(1L, math.min(maxTrainRows, maxBytes / rowBytes))
    if (eff < maxTrainRows)
      System.err.println(s"[graft] training sample clamped from " +
        s"$maxTrainRows to $eff rows: dim=$dim at 4 bytes/float exceeds " +
        s"$MaxTrainBytesKey=$maxBytes — raise the conf (and the driver " +
        "heap) to train on more rows")
    onTrainSampleBound(maxTrainRows, eff)
    eff
  }

  /** The embedding column's width, probed from ONE row (a limit-1 scan —
   *  bounded, reads a single page); 0 on an all-null/empty frame. */
  private def vecDim(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1) // bounded: one row, the dim probe
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** The ONE deterministic cut predicate both training entry points
   *  share — a change here must move them together, or the documented
   *  "same hash-cut" contract between ivfTrainKmeans and ivfRetrain
   *  silently diverges. None = the bound doesn't bind (no cut). */
  private def sampleCut(df: DataFrame, idCol: String, nRows: Long,
      maxTrainRows: Long): Option[DataFrame] = {
    val k = math.max(1L, SampleDenom * maxTrainRows / math.max(nRows, 1L))
    if (k >= SampleDenom) None
    else Some(df.filter(pmod(xxhash64(col(idCol)), lit(SampleDenom)) < k))
  }

  private def hashSample(df: DataFrame, idCol: String, nRows: Long,
      maxTrainRows: Long): DataFrame =
    sampleCut(df, idCol, nRows, maxTrainRows).fold(df) {
      _.repartition(math.max(1, math.min(32, (maxTrainRows / 8192L).toInt)))
    }

  private def trainKmeansOn(corpus: DataFrame, nLists: Int, iters: Int,
      idCol: String, vecCol: String): Seq[Seq[Float]] = {
    import org.apache.spark.sql.functions.typedLit
    val vecs = corpus.select(col(idCol), col(vecCol))
    var chosen = vecs.orderBy(xxhash64(col(idCol))).limit(1).collect()
      .map(r => (r.get(0), r.getSeq[Float](1).toSeq)).toSeq
    while (chosen.length < nLists && {
      val u = (pmod(xxhash64(col(idCol), lit(chosen.length)), lit(1000000000L))
        .cast("double") + 0.5) / 1e9
      val d = greatest(lit(0.0), lit(1.0) - array_max(array(
        chosen.map(c => cosine(col(vecCol), typedLit(c._2))): _*)))
      val cand = vecs
        .filter(!col(idCol).isin(chosen.map(_._1): _*))
        .withColumn("_key", d / -log(u))
        .orderBy(col("_key").desc, xxhash64(col(idCol)))
        .limit(1).collect() // TakeOrdered(1): one bounded row per round
      cand.nonEmpty && { chosen = chosen :+ (cand(0).get(0), cand(0).getSeq[Float](1).toSeq); true }
    }) ()
    var cb = chosen.map(_._2)
    for (_ <- 0 until iters) {
      // SPHERICAL update: average the NORMALIZED members — the mean that
      // maximizes the summed cosine to its list (plain averaging weights
      // high-norm vectors, skewing the direction the assignment actually
      // scores by)
      val means = ivfAssign(corpus, cb, vecCol)
        .withColumn("_nrm", norm(col(vecCol)))
        .filter(col("_nrm") > 0)
        .select(col("list_id"),
          posexplode(transform(col(vecCol), v => v / col("_nrm"))).as(Seq("pos", "v")))
        .groupBy("list_id", "pos").agg(avg(col("v").cast("double")).as("m"))
        .collect() // bounded: nLists x dim rows, the model itself
        .groupBy(_.getInt(0))
      cb = cb.zipWithIndex.map { case (old, j) =>
        means.get(j).fold(old) { rows =>
          val arr = new Array[Float](old.length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
          arr.toSeq
        }
      }
    }
    cb
  }

  /** Stage a full partitioned rewrite as the NEXT VERSION (with the
   *  codebook that assigned it), then swap the pointer — the shared,
   *  crash-atomic tail of [[ivfCompactAtRest]]/[[ivfRetrain]]. A crash at
   *  any point leaves the live version intact; a reader racing the swap
   *  sees old or new, never a mix (the replaced version survives one
   *  maintenance generation as reader grace). Quiesce WRITERS first —
   *  the callers hold the lease. */
  private def swapRewrite(assigned: DataFrame, path: String,
      cb: Seq[Seq[Float]], pqModel: Seq[Seq[Seq[Float]]] = null,
      pqResidual: Option[Boolean] = None,
      ledgerAdjust: DataFrame = null,
      lshOverride: Option[(Int, Int)] = None): Unit = {
    val spark = assigned.sparkSession
    val fs = AtRest.fsFor(spark, path)
    // carry a PQ-encoded table's model into the rewrite: the codes ride in
    // the `assigned` frame (a data column), but future appends and probe
    // LUTs need the MODEL beside the new version too — read it before the
    // pointer moves. An explicitly-passed model (ivfEnablePq) wins. The
    // residual flag travels with the model the same way.
    val pq = Option(pqModel).orElse(ivfPqModel(spark, path))
    val residual = pqResidual.getOrElse(ivfPqResidualOf(spark, path))
    val (v, staging) = AtRest.nextStaging(fs, path)
    writeListData(assigned, ivfIdColOf(spark, path), "overwrite",
      new org.apache.hadoop.fs.Path(staging, "ingest_batch=-1").toString)
    writeCodebook(spark, staging.toString, cb)
    pq.foreach(pqWriteModel(spark, staging.toString, _, residual))
    // a ledgered table's counters survive maintenance: the accreted deltas
    // collapse to ONE seed delta in the new version (no vector is added or
    // removed by compact/retrain, so the collapsed ledger stays exact)
    val ledgerBy = ivfLedgerByOf(spark, path)
    ledgerBy.foreach { _ =>
      DedupIndex.ledgerLong(spark, AtRest.resolve(spark, path)).foreach { lf =>
        // a recheck's negative adjustment (removed vectors subtract back
        // out) merges into the collapsed seed delta — evaluated HERE,
        // against the pre-swap version, while staging (before the pointer
        // moves), so the adjustment can never anti-join the rows it is
        // itself accounting for
        val merged = Option(ledgerAdjust).fold(lf)(lf.unionByName(_))
        DedupIndex.publishLedgerDelta(DedupIndex.collapseLedger(merged),
          staging.toString, DedupIndex.SeedBatch)
      }
    }
    // the signature scheme travels with the rewrite like the PQ model:
    // the data columns ride in `assigned`, the meta keys that make them
    // interpretable must land in the new version too (an explicit
    // override is a re-sign — the caller rewrote the signature column)
    AtRest.writeMetaStaged(spark, staging,
      ivfMeta(cb, ivfReplicasOf(spark, path), ivfIdColOf(spark, path),
          lshOverride.orElse(lshSchemeOf(spark, path)))
        ++ ledgerBy.map("ledgerBy" -> _)
        ++ (if (ivfCodesOnlyOf(spark, path)) Map("codesOnly" -> "true")
            else Map.empty))
    // this rewrite folds every batch dir into the seed — record how far,
    // so an incremental recheck whose window starts below cannot silently
    // skip the folded (never-adjudicated) batches
    AtRest.writeCollapseFrontier(fs, path,
      DedupIndex.maxCommittedBatch(fs, path))
    AtRest.publishVersion(spark, path, v)
  }

  /** OFFLINE maintenance, [[graft.operators.DedupIndex.compact]]'s IVF
   *  twin: collapse the per-append/per-batch small files to one file per
   *  list directory (one shuffle task per list). Assignments and codebook
   *  are untouched — probes see identical results. `centroids` is only
   *  needed for a table whose codebook was never persisted (an adopting
   *  append that crashed before writing it); omit it otherwise. */
  def ivfCompactAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
      centroids: Seq[Seq[Float]] = null): Unit = AtRest.withLease(spark, path) {
    if (centroids != null) validateCodebook(spark, path, centroids)
    val cb = readCodebook(spark, path)
      .orElse(Option(centroids))
      .getOrElse(throw new IllegalStateException(
        s"$path has no persisted codebook — pass the centroids so " +
          "compaction can persist them"))
    val all = spark.read.parquet(AtRest.resolve(spark, path)).drop("ingest_batch")
    val nLists = math.max(all.select("list_id").distinct().count().toInt, 1)
    swapRewrite(all.repartition(nLists, col("list_id")), path, cb)
  }

  /**
   * Re-sign an at-rest IVF table — the LOUD migration for a signature
   * scheme change (see [[LshSigCol]]): rewrites every row with fresh
   * signatures at the given (or auto-sized) scheme and records it in
   * `_meta.json`, staged + pointer-swapped like compact/retrain. Use it
   * to (a) sign an unsigned table so rechecks stop re-signing
   * per pass, or (b) move to wider planes after growth without waiting
   * for the full sweep's automatic upgrade. Codes-only tables re-sign
   * from `rerankFrom` (full id coverage required, loudly). Returns the
   * scheme written.
   */
  def ivfResign(spark: org.apache.spark.sql.SparkSession, path: String,
      planesPerTable: Int = 0, tables: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerankFrom: DataFrame = null): (Int, Int) =
    AtRest.withLease(spark, path) {
      requireIdCol(spark, path, idCol)
      val codesOnly = ivfCodesOnlyOf(spark, path)
      if (codesOnly && rerankFrom == null)
        throw new IllegalStateException(
          s"$path is a codes-only IVF-PQ table (no raw vectors at rest) — " +
            "re-signing needs them; pass rerankFrom (the id-addressable " +
            "primary vector store)")
      val cb = storedCodebook(spark, path) // loud on pre-codebook tables
      val table = spark.read.parquet(AtRest.resolve(spark, path))
      val replicas = math.max(ivfReplicasOf(spark, path), 1)
      val p = if (planesPerTable > 0) planesPerTable
        else autoLshPlanes(math.max(table.count() / replicas, 1L))
      val t = if (tables > 0) tables else autoLshTables(p)
      val bare = table.drop("ingest_batch").drop(LshSigCol)
      val signed =
        if (codesOnly) {
          val store = rerankFrom.select(col(idCol), col(vecCol))
            .dropDuplicates(idCol)
          val joined = bare.join(store, Seq(idCol), "left")
          val missing = joined.filter(col(vecCol).isNull).count()
          if (missing > 0)
            throw new IllegalStateException(
              s"rerankFrom is missing vectors for $missing of the table's " +
                "ids — re-signing from it would leave them unsigned; " +
                "backfill the store")
          withLshSigs(joined, vecCol, p, t).drop(vecCol)
        } else withLshSigs(bare, vecCol, p, t)
      swapRewrite(signed.repartition(cb.length, col("list_id")), path, cb,
        lshOverride = Some((p, t)))
      (p, t)
    }

  /**
   * Re-train the at-rest IVF table's codebook and rewrite it — the
   * maintenance pass for codebook DRIFT: appended mass assigned under a
   * stale codebook crowds into few lists, so probes of the new region
   * scan arbitrarily many rows (with a sampling/k-means codebook the
   * drift cost is list CROWDING — probe recall survives, because a probe
   * near its neighbor ranks lists the same way the neighbor's assignment
   * did, but pruning efficiency collapses; SketchSpec measures exactly
   * this). Reads the table once for k-means and once for the rewrite;
   * returns the new codebook, which is ALSO persisted inside the new
   * version — the rewrite and its codebook swap in atomically together,
   * and a straggler caller still holding the old codebook now fails
   * loudly instead of silently mis-pruning.
   */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, path: String,
      nLists: Int = 16, iters: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxTrainRows: Long = 65536, pqIters: Int = 5,
      rerankFrom: DataFrame = null): Seq[Seq[Float]] =
    StageCoalesce.sizeBased(spark)(AtRest.withLease(spark, path) {
      val codesOnly = ivfCodesOnlyOf(spark, path)
      if (codesOnly && rerankFrom == null)
        throw new IllegalStateException(
          s"$path is a codes-only IVF-PQ table (no raw vectors at rest) — " +
            "k-means retraining needs them; pass rerankFrom (the " +
            "id-addressable primary vector store) and the retrain will " +
            "train, reassign and re-encode from it")
      requireIdCol(spark, path, idCol)
      // a multi-assigned table holds each vector `replicas` times (one row
      // per list) — dedupe before training, or duplicates weight k-means.
      // RESIDUAL codes depend on the centroids they were encoded against,
      // so a residual table drops them here (they'd also defeat the dedupe
      // — replicas carry per-list codes) and re-encodes under the NEW
      // codebook after reassignment; raw PQ codes are centroid-independent
      // and ride through unchanged — except codes-only, which always
      // re-encodes from the fetched vectors (its codes were dropped with
      // the assignment columns).
      val residual = ivfPqResidualOf(spark, path)
      val pq = ivfPqModel(spark, path)
      val dir = AtRest.resolve(spark, path)
      val replicas = math.max(ivfReplicasOf(spark, path), 1)
      // ADMISSION MULTIPLICITY must survive the rewrite: an id re-admitted
      // in a later batch with a sub-threshold-different vector (the
      // update-style re-ingest) counted twice in the ledger and holds
      // 2 × replicas physical rows — a plain dropDuplicates() would
      // collapse identical payload groups to one row and permanently
      // drift n_vecs above rows/replicas (the invariant the recheck's
      // ledger subtraction asserts). So payload groups carry an `_adm`
      // admission count (rows/replicas, divisibility ASSERTED loudly) and
      // the reassigned rows re-explode by it before the write.
      val withAdmissions = (df: DataFrame) => {
        val cnt = count(lit(1))
        df.groupBy(df.columns.toSeq.map(col): _*)
          .agg(when(cnt % lit(replicas.toLong) =!= 0,
              raise_error(lit(s"ivfRetrain on $path: a payload row group's " +
                s"count is not divisible by replicas=$replicas — the " +
                "'every admission wrote exactly replicas rows' invariant " +
                "is broken upstream; repair the table before retraining")))
            .otherwise(cnt / replicas).cast("int").as("_adm"))
      }
      val raw =
        if (codesOnly) {
          // the CODES-ONLY maintenance shape: the table's own rows (ids +
          // whatever payload columns ride at rest) keep their identity;
          // vectors come from the external store by id. A table id the
          // store cannot serve would be SILENTLY DROPPED by the rewrite —
          // fail loudly instead (one extra id-join aggregate, the price of
          // not losing data). Signatures are dropped here and RE-SIGNED
          // from the store vectors below — per-admission signatures of a
          // re-admitted id would otherwise diverge from the store's
          // current vector (two same-payload admissions still count: the
          // group collapses but `_adm` carries both).
          val tbl = spark.read.parquet(dir)
            .drop("list_id", "ingest_batch", "pq_code", LshSigCol)
          val store = rerankFrom.select(col(idCol), col(vecCol))
            .dropDuplicates(idCol)
          val joined = tbl.join(store, Seq(idCol), "left")
          val missing = joined.filter(col(vecCol).isNull).count()
          if (missing > 0)
            throw new IllegalStateException(
              s"rerankFrom is missing vectors for $missing of the table's " +
                s"ids — retraining from it would silently drop them; " +
                "backfill the store (or re-seed with ivfWriteAtRest)")
          joined
        } else {
          // full layout: signatures (when present) stay payload columns —
          // each row keeps its own vector, so they remain consistent
          val raw0 = spark.read.parquet(dir).drop("list_id", "ingest_batch")
          if (residual) raw0.drop("pq_code") else raw0
        }
      // TRAINING frame: a bounded deterministic hash-sample (default 64k
      // distinct ids; maxTrainRows <= 0 opts out) — at 100 TB the full
      // table can neither persist nor price the init's per-round scans,
      // and a 64k sample already over-determines an nLists-vector model.
      // The rows bound is ALSO clamped by bytes (MaxTrainBytesKey): the
      // driver-local collect is rows × dim × 4 — dim comes free from the
      // table meta. Sampling cuts by ID on the pre-dedupe frame (replicas
      // ride along uniformly — every vector appears exactly `replicas`
      // times, so the sample's k-means weighting is unskewed — and only
      // the tiny sample pays the dedupe shuffle). Row count comes from
      // parquet footers.
      val effTrainRows =
        if (maxTrainRows <= 0) maxTrainRows
        else byteCappedTrainRows(spark, maxTrainRows,
          AtRest.readMeta(spark, path).flatMap(_.get("dim"))
            .flatMap(_.toIntOption).getOrElse(vecDim(raw, vecCol)))
      val nIds = spark.read.parquet(dir).count() / replicas
      val sampled = effTrainRows > 0 && nIds > effTrainRows
      val train =
        (if (sampled)
          hashSample(raw.select(col(idCol), col(vecCol)), idCol, nIds, effTrainRows)
        else raw).dropDuplicates()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        // sampled: driver-local k-means over the persisted sample (one
        // collect; see kmeansLocal) — the init's TakeOrdered rounds and
        // Lloyd scans cost zero jobs. Full: the distributed trainer.
        val cb =
          if (sampled) kmeansLocal(
            collectSampled(train, idCol, vecCol, effTrainRows), nLists, iters)
          else trainKmeansOn(train, nLists, iters, idCol, vecCol)
        // a RESIDUAL model retrains against the NEW centroids (same
        // m/ksub, `pqIters` Lloyd rounds, same bounded training frame):
        // residuals are offsets from the coarse codebook, so re-encoding
        // with the OLD subquantizers under new lists would silently drift
        // ADC recall across successive retrains. Raw models are
        // centroid-independent — swapRewrite carries the persisted one
        // unchanged.
        val newPq =
          if (residual) pq.map { old =>
            val ksub = old.head.length
            // under-determined guard: fewer sample rows than ~4 per
            // centroid cell leaves subquantizer cells seeded from a CYCLED
            // init sample and never updated — the model trains, but to
            // noise; loud, not fatal (a tiny table may be all there is)
            val trainRows = train.count()
            if (trainRows < 4L * ksub)
              System.err.println(s"[graft] residual-PQ retrain on $path: " +
                s"only $trainRows training rows for ksub=$ksub centroids " +
                s"per subspace (< ${4L * ksub}) — the subquantizers are " +
                "under-determined; raise maxTrainRows or lower ksub")
            pqTrainResidual(train, cb,
              m = old.length, ksub = ksub, iters = pqIters, idCol, vecCol)
          }
          else None
        // full-table reassignment is unchanged by sampling: one pass over
        // the multiplicity-grouped table straight into the staged rewrite
        val cur = withAdmissions(raw)
        val reassigned = ivfAssignMulti(cur, cb, vecCol, replicas)
        val reencoded =
          if (residual) pqEncodeResidual(reassigned, cb, newPq.get, vecCol)
          else if (codesOnly) pqEncode(reassigned, pq.get, vecCol)
          else reassigned
        // codes-only: re-sign from the store vectors under the recorded
        // scheme (per-admission signatures would diverge from the store's
        // current vector — the full layout keeps each row's own vector,
        // so its carried signatures stay consistent)
        val resigned =
          if (codesOnly) lshSchemeOf(spark, path).fold(reencoded) {
            case (p, t) => withLshSigs(reencoded, vecCol, p, t)
          } else reencoded
        // restore admission multiplicity: each payload group re-emits its
        // `_adm` admissions × `replicas` assignment rows
        val restored = resigned
          .withColumn("_admx", explode(array_repeat(lit(1), col("_adm"))))
          .drop("_admx", "_adm")
        swapRewrite(
          (if (codesOnly) restored.drop(vecCol) else restored)
            .repartition(nLists, col("list_id")), path, cb,
          pqModel = newPq.orNull,
          pqResidual = if (residual) Some(true) else None)
        cb
      } finally train.unpersist(blocking = false)
    })

  /**
   * Probe an at-rest IVF table: the probes' wanted lists (≤ nProbe ×
   * |probes|, and never more than the codebook size — a bounded collect of
   * the trained model's keyspace, not of data) become a static `IN` filter
   * on the partition column, so the parquet scan plans ONLY those
   * partition directories. The spec asserts the FileSourceScan's selected
   * partition count equals the wanted-list count. A caller-supplied
   * `centroids` must bit-match the persisted codebook (loud error
   * otherwise); the overload without it loads the persisted one.
   */
  /** `candidateFilter`: FILTERED ANN — restrict the search to at-rest
   *  rows satisfying a predicate over the table's payload columns
   *  (metadata-filtered search, e.g. `col("label") === 3`). The filter
   *  composes with the partition pruning: Catalyst pushes it into the
   *  SAME pruned parquet scan (plan-asserted), so a selective filter
   *  shrinks the scan instead of post-filtering results; top-k ranks
   *  among the matching rows only.
   *
   *  `filterSelectivityHint`: the KNOWN IVF×filter interaction — lists
   *  partition by geometry, not by payload, so a filter of selectivity s
   *  leaves only ~s × |list| candidates in the probed lists and recall
   *  collapses at fixed nProbe as s shrinks (q_sim_filtered_recall
   *  measures the curve). Pass the filter's (estimated) match fraction
   *  and the probe widens to ceil(nProbe / s) lists, capped at nLists —
   *  restoring the UNfiltered probe's expected candidate count at the
   *  cost of proportionally more (still-pruned) list scans; at/below
   *  s ≈ nProbe/nLists the cap means a full-list scan, the honest floor.
   *  0 (default) = no boost. */
  def ivfTopKAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, centroids: Seq[Seq[Float]], k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      candidateFilter: Column = null,
      filterSelectivityHint: Double = 0.0): DataFrame = {
    rejectCodesOnly(spark, path, "the raw-vector probe",
      "probe with ivfPqTopKAtRest(rerankFrom = <your vector store>)")
    validateCodebook(spark, path, centroids)
    requireIdCol(spark, path, idCol)
    val effNProbe = boostedNProbe(nProbe, centroids.length,
      candidateFilter, filterSelectivityHint)
    val wanted = ivfProbeLists(probes, centroids, effNProbe)
      .select("list_id").distinct().collect().map(_.getInt(0)).sorted
    val pruned = spark.read.parquet(AtRest.resolve(spark, path))
      .filter(col("list_id").isin(wanted.map(_.asInstanceOf[Any]): _*))
    val assigned = Option(candidateFilter).fold(pruned)(pruned.filter)
    scoreProbeLists(assigned, probes, centroids, k, effNProbe, idCol, vecCol,
      dedupe = ivfReplicasOf(spark, path) > 1)
  }

  /** [[ivfTopKAtRest]] under the table's OWN persisted codebook — the
   *  default read path: no way to hold a stale model. (No defaults here:
   *  Scala allows one defaulted overload; pass the persisted codebook
   *  explicitly to reach candidateFilter/filterSelectivityHint.) */
  def ivfTopKAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, nProbe: Int,
      idCol: String, vecCol: String): DataFrame =
    ivfTopKAtRest(spark, path, probes, storedCodebook(spark, path), k, nProbe,
      idCol, vecCol)

  /** The filtered-ANN probe width: nProbe / selectivity, capped at
   *  nLists (see the `filterSelectivityHint` doc on [[ivfTopKAtRest]]). */
  private def boostedNProbe(nProbe: Int, nLists: Int,
      candidateFilter: Column, hint: Double): Int =
    if (candidateFilter != null && hint > 0 && hint < 1)
      math.min(nLists.toLong, math.ceil(nProbe / hint).toLong).toInt
    else nProbe

  /**
   * MIGRATE a live at-rest IVF table to IVF-PQ: every row gains its
   * `pq_code` column and the model persists beside the new version —
   * staged and pointer-swapped exactly like compact/retrain (crash-safe,
   * readers see old or new, never a mix; a ledgered table's counters
   * carry). Assignments and the IVF codebook are untouched; after this,
   * every append/ingest path encodes arrivals automatically and
   * [[ivfPqTopKAtRest]] serves probes from the codes. Re-running with a
   * NEW model re-encodes (the old `pq_code` column is replaced).
   */
  /** The PQ model's reconstructed dimension (m × dsub) must equal the IVF
   *  codebook's — the encode kernel reads out-of-range dims as 0.0 (the
   *  null-slot convention), so a mismatched model would SILENTLY quantize
   *  truncated or zero-padded vectors instead of failing. */
  private def requirePqDimMatch(pq: Seq[Seq[Seq[Float]]],
      centroids: Seq[Seq[Float]]): Unit = {
    val pqDim = pq.length * pq.head.head.length
    val ivfDim = centroids.head.length
    require(pqDim == ivfDim,
      s"PQ model reconstructs $pqDim dims (m=${pq.length} × dsub=" +
        s"${pq.head.head.length}) but the IVF codebook is $ivfDim-dimensional " +
        "— train the PQ model on the same embedding column")
  }

  /** Decisive-mismatch guard for the `residual` flag: a raw-trained model
   *  declared residual (or vice versa) encodes and scores SELF-consistently
   *  — nothing crashes, ADC recall just silently degrades, exactly the
   *  class the flag exists to prevent. The two conventions are
   *  distinguishable from the data itself: quantize a bounded sample BOTH
   *  ways with the declared model and compare RELATIVE quantization error
   *  (error over input mass — raw unit vectors and residuals carry
   *  different norms, so absolute errors don't compare); the matching
   *  convention's geometry fits decisively better. Throws only on a
   *  decisive (>1.25×) mismatch — ambiguous data passes. Driver-side over
   *  ≤ 256 sampled vectors, a few µs of arithmetic. */
  private def requirePqConventionMatch(sampleVecs: Seq[Seq[Float]],
      centroids: Seq[Seq[Float]], pq: Seq[Seq[Seq[Float]]],
      residual: Boolean): Unit = {
    if (sampleVecs.isEmpty) return
    val dim = centroids.head.length
    val m = pq.length
    val dsub = pq.head.head.length
    def normalize(v: Seq[Float]): Array[Double] = {
      val a = v.map(_.toDouble).toArray
      val nrm = math.sqrt(a.foldLeft(0.0)((s, x) => s + x * x))
      if (nrm == 0) a else a.map(_ / nrm)
    }
    val cN = centroids.map(normalize).toArray
    def quantErr(x: Array[Double]): Double = {
      var err = 0.0
      var j = 0
      while (j < m) {
        var best = Double.MaxValue
        pq(j).foreach { cell =>
          var d = 0.0
          var t = 0
          while (t < dsub) {
            val diff = x(j * dsub + t) - cell(t); d += diff * diff; t += 1
          }
          if (d < best) best = d
        }
        err += best
        j += 1
      }
      err
    }
    var errRaw = 0.0; var errRes = 0.0; var massRaw = 0.0; var massRes = 0.0
    sampleVecs.foreach { v =>
      val vn0 = normalize(v)
      val vn = java.util.Arrays.copyOf(vn0, dim) // kernel's zero-pad convention
      var bestL = 0; var bestCos = Double.MinValue
      var l = 0
      while (l < cN.length) {
        var d = 0.0
        var t = 0
        val c = cN(l)
        while (t < math.min(dim, c.length)) { d += vn(t) * c(t); t += 1 }
        if (d > bestCos) { bestCos = d; bestL = l }
        l += 1
      }
      val r = new Array[Double](dim)
      var t = 0
      while (t < dim) { r(t) = vn(t) - cN(bestL)(t); t += 1 }
      errRaw += quantErr(vn); massRaw += vn.foldLeft(0.0)((s, x) => s + x * x)
      errRes += quantErr(r); massRes += r.foldLeft(0.0)((s, x) => s + x * x)
    }
    val eps = 1e-12
    val relRaw = errRaw / math.max(massRaw, eps)
    val relRes = errRes / math.max(massRes, eps)
    if (residual && relRes > relRaw * 1.25)
      throw new IllegalArgumentException(
        f"PQ model declared residual but fits the RAW convention decisively " +
          f"better on this data (relative quantization error $relRes%.3f " +
          f"residual vs $relRaw%.3f raw) — it was almost certainly trained " +
          "with pqTrain, not pqTrainResidual; fix the flag or retrain")
    if (!residual && relRaw > relRes * 1.25)
      throw new IllegalArgumentException(
        f"PQ model declared raw but fits the RESIDUAL convention decisively " +
          f"better on this data (relative quantization error $relRaw%.3f raw " +
          f"vs $relRes%.3f residual) — it was almost certainly trained with " +
          "pqTrainResidual; pass residual = true (pqResidual = true)")
  }

  /** A bounded, cheap vector sample for [[requirePqConventionMatch]]. */
  private def conventionSample(df: DataFrame, vecCol: String): Seq[Seq[Float]] =
    df.select(col(vecCol)).filter(col(vecCol).isNotNull).limit(256)
      .collect().map(_.getSeq[Float](0).toSeq).toSeq // bounded: 256 rows

  def ivfEnablePq(spark: org.apache.spark.sql.SparkSession, path: String,
      pqModel: Seq[Seq[Seq[Float]]],
      vecCol: String = "embedding", residual: Boolean = false,
      skipConventionCheck: Boolean = false): Unit =
    AtRest.withLease(spark, path) {
      rejectCodesOnly(spark, path, "re-encoding under a new model",
        "re-seed from the primary vector store with ivfWriteAtRest")
      val cb = storedCodebook(spark, path)
      requirePqDimMatch(pqModel, cb)
      val all = spark.read.parquet(AtRest.resolve(spark, path))
        .drop("ingest_batch").drop("pq_code")
      // skipConventionCheck: see ivfWriteAtRest — the drifted-data escape
      // hatch for the statistical raw-vs-residual heuristic
      if (!skipConventionCheck)
        requirePqConventionMatch(conventionSample(all, vecCol), cb, pqModel, residual)
      val nLists = math.max(all.select("list_id").distinct().count().toInt, 1)
      val encoded =
        if (residual) pqEncodeResidual(all, cb, pqModel, vecCol)
        else pqEncode(all, pqModel, vecCol)
      swapRewrite(encoded.repartition(nLists, col("list_id")),
        path, cb, pqModel, Some(residual))
    }

  /**
   * Probe an IVF-PQ table — the 100 TB ANN serving shape, two stages:
   *
   *  1. ADC over the pruned lists: the scan plans only the probes' nProbe
   *     wanted partitions AND reads only `(id, pq_code, list_id)` — m
   *     bytes of code per vector; the embedding column's pages are never
   *     fetched (column pruning, spec-asserted). Candidates score via m
   *     LUT reads each against the probe's broadcast lookup table.
   *  2. Exact rerank: the top-`rerank` ADC survivors per probe become a
   *     static `IN` filter on the id column (a bounded ≤ |probes|×rerank
   *     collect of the candidate LIST, not of data — parquet row-group
   *     stats then skip non-candidate pages), raw vectors are fetched for
   *     just those rows, and the final top-k ranks by TRUE cosine.
   *
   * Returned scores are exact; ADC only decided which ~rerank of the
   * pruned lists' vectors were worth reading in full.
   */
  /** `candidateFilter`: FILTERED ANN over the code table's payload
   *  columns (see [[ivfTopKAtRest]]) — the predicate pushes into the
   *  pruned CODE scan beside the partition filter, so only matching
   *  rows are ADC-scored and reranked; top-k ranks among them only.
   *  Works codes-only too when the filter columns ride at rest.
   *  `filterSelectivityHint` widens the probe to ceil(nProbe / s) lists
   *  (capped at nLists) — see [[ivfTopKAtRest]]. */
  def ivfPqTopKAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, k: Int, nProbe: Int = 4, rerank: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerankFrom: DataFrame = null, candidateFilter: Column = null,
      filterSelectivityHint: Double = 0.0): DataFrame = {
    val centroids = storedCodebook(spark, path)
    requireIdCol(spark, path, idCol)
    val dir = AtRest.resolve(spark, path)
    val (pq, residual) = pqReadModelInfo(spark, dir) // loud on a plain IVF table
    if (rerankFrom == null && ivfCodesOnlyOf(spark, path))
      throw new IllegalArgumentException(
        s"$path is codes-only — pass rerankFrom (the id-addressable raw " +
          "vector store) so the exact rerank has vectors to read")
    val effNProbe = boostedNProbe(nProbe, centroids.length,
      candidateFilter, filterSelectivityHint)
    val pl = ivfProbeLists(probes, centroids, effNProbe)
    // bounded collect over the MODEL's keyspace (≤ nLists), the same
    // static-IN pruning as ivfTopKAtRest
    val wanted = pl.select("list_id").distinct().collect()
      .map(_.getInt(0)).sorted.map(_.asInstanceOf[Any])
    // RESIDUAL scoring decomposes p̂·v̂ ≈ p̂·ĉ_list + p̂·r̂: the first term is
    // EXACT — cosine(probe, centroid), computed here per (probe, list) on
    // the tiny fan-out frame (the LUT over the residual codebook supplies
    // the second — built from the raw normalized probe, NOT probe −
    // centroid). Raw models keep `_pc` ≡ 0 so the scoring expression is
    // shared.
    val luts = pl.select(col("probe_id"), col("list_id"),
      graft.functions.VectorFunctions.pq_lut(col("probe_vec"), pq).as("_lut"),
      (if (residual)
        cosine(col("probe_vec"), element_at(typedLit(centroids), col("list_id") + 1))
      else lit(0.0)).as("_pc"))
    val codes0 = spark.read.parquet(dir)
      .filter(col("list_id").isin(wanted: _*))
    val codes = Option(candidateFilter).fold(codes0)(codes0.filter)
      .select(col(idCol), col("pq_code"), col("list_id"))
    val scored0 = codes.join(broadcast(luts), "list_id")
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("_adc",
        graft.functions.VectorFunctions.pq_adc(col("pq_code"), col("_lut"))
          + col("_pc"))
    // replicas surface the same (probe, id) through several lists — with
    // IDENTICAL codes under a raw model (collapse = dropDuplicates), but
    // PER-LIST codes under a residual model (each replica quantizes the
    // residual to ITS list): keep the replica that scores best, a
    // deterministic multiprobe-style max
    val scored =
      if (ivfReplicasOf(spark, path) <= 1) scored0
      else if (residual) scored0.groupBy(col("probe_id"), col(idCol))
        .agg(max(col("_adc")).as("_adc"))
      else scored0.dropDuplicates("probe_id", idCol)
    val r = math.max(k, rerank)
    val w = Window.partitionBy("probe_id").orderBy(col("_adc").desc, col(idCol))
    val cand0 = scored.withColumn("_ar", row_number().over(w))
      .filter(col("_ar") <= r)
      .select(col("probe_id"), col(idCol))
    onPqAdcPlan(cand0) // seam BEFORE the checkpoint — after it the plan is a leaf
    // localCheckpoint: `cand` is consumed TWICE (the id collect below and
    // the rerank join) — without materialization the second consumer
    // re-runs the entire ADC scan + window, doubling the probe's cost
    val cand = cand0.localCheckpoint(true) // tiny: ≤ |probes| × rerank rows
    onPqAdcDone() // seam AFTER the (eager) checkpoint: the ADC pass has run
    // bounded collect: the candidate-ID list (≤ |probes| × rerank rows) —
    // what turns the vector fetch into a pushed-down point read
    val candIds = cand.select(col(idCol)).distinct().collect().map(_.get(0))
    if (candIds.isEmpty)
      return probes.select(col("probe_id"), col("probe_id").as("neighbor_id"),
        lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    // a huge probe batch × rerank would make the literal IN itself the
    // bottleneck (plan size, per-row filter width) — past 64k candidates
    // fall back to a broadcast semi-join over the same pruned lists; the
    // scan is still partition-pruned, only the row-group skip is lost.
    // rerankFrom (an external id-addressable vector store — the codes-only
    // deployment shape) replaces the IVF table as the fetch source; the
    // IN/semi-join filter pushes into ITS scan instead
    val prunedVecs = Option(rerankFrom).getOrElse(
      spark.read.parquet(dir).filter(col("list_id").isin(wanted: _*)))
    // the point filter is TWO conjuncts doing different jobs:
    //  1. one wide isin — O(1) InSet row evaluation, but Spark pushes an
    //     In past spark.sql.parquet.pushdown.inFilterThreshold (default
    //     10) as a min/max RANGE, useless for page skipping on scattered
    //     candidate ids;
    //  2. the same ids as an Or of ≤10-value Ins — pushes REAL In
    //     predicates, so a point-read-laid-out store (id-sorted files,
    //     bounded page row counts) skips pages: measured 1037 MB → 73 MB
    //     (14.2×) on a 4M-row store (tools.InPushdownProbe), and the
    //     end-to-end codes-only serving probe reads 9.3× less than the
    //     raw probe (PqBench [pq-bench-serving]).
    // The isin comes FIRST so And short-circuits: non-candidate rows
    // (the vast majority) pay one hash lookup, never the Or chain — a
    // chunked-only filter measured 5× slower on the same-table fetch.
    // Chunking is bounded to InChunkMaxKey ids (default 2048 → 205
    // disjuncts; a bigger plan costs more in the optimizer than it
    // saves) — past it the wide isin alone keeps range pushdown until
    // the semi-join fallback. Both bounds are session confs: tune the
    // IN→semi-join crossover and the pushdown chunking per store layout.
    val inChunkMax = confInt(spark, InChunkMaxKey, 2048)
    def pointFilter(ids: Array[Any]): Column = {
      val wide = col(idCol).isin(ids: _*)
      if (ids.length <= 10 || ids.length > inChunkMax) wide
      else wide && ids.grouped(10).map(g => col(idCol).isin(g: _*)).reduce(_ || _)
    }
    val fetch = (
      if (candIds.length <= confInt(spark, RerankInThresholdKey, 65536))
        prunedVecs.filter(pointFilter(candIds))
      else prunedVecs.join(broadcast(cand.select(col(idCol)).distinct()),
        Seq(idCol), "left_semi"))
      .select(col(idCol), col(vecCol))
      .dropDuplicates(idCol) // replicas: one vector row per id
    val exact = fetch
      .join(broadcast(cand.join(probes, "probe_id")), idCol)
      .withColumn("cos", cosine(col("probe_vec"), col(vecCol)))
    val we = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
    exact.withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /** In-memory IVF-PQ comparator for [[ivfPqTopKAtRest]] (same codebook +
   *  model ⇒ identical result): assign + encode + ADC candidate pass +
   *  exact rerank, all on the live frame. `residual = true` mirrors the
   *  residual-encoded table's convention (encode `v̂ − c_list`, score
   *  `p̂·c_list + ADC`). */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame,
      centroids: Seq[Seq[Float]], pqModel: Seq[Seq[Seq[Float]]],
      k: Int, nProbe: Int = 4, rerank: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): DataFrame = {
    val assignedRaw = ivfAssign(corpus, centroids, vecCol)
    val assigned =
      if (residual) pqEncodeResidual(assignedRaw, centroids, pqModel, vecCol)
      else pqEncode(assignedRaw, pqModel, vecCol)
    val luts = ivfProbeLists(probes, centroids, nProbe)
      .select(col("probe_id"), col("list_id"), col("probe_vec"),
        graft.functions.VectorFunctions.pq_lut(col("probe_vec"), pqModel).as("_lut"),
        (if (residual)
          cosine(col("probe_vec"), element_at(typedLit(centroids), col("list_id") + 1))
        else lit(0.0)).as("_pc"))
    val scored = assigned.join(broadcast(luts), "list_id")
      .filter(col("probe_id") =!= col(idCol))
      .withColumn("_adc",
        graft.functions.VectorFunctions.pq_adc(col("pq_code"), col("_lut"))
          + col("_pc"))
    val r = math.max(k, rerank)
    val w = Window.partitionBy("probe_id").orderBy(col("_adc").desc, col(idCol))
    val cand = scored.withColumn("_ar", row_number().over(w))
      .filter(col("_ar") <= r)
    val we = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
    cand.withColumn("cos", cosine(col("probe_vec"), col(vecCol)))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col(idCol).as("neighbor_id"),
        round(col("cos"), 6).as("cosine"), col("rank"))
      .orderBy("probe_id", "rank")
  }

  /**
   * One micro-batch of a VECTOR ingest loop over the at-rest IVF table —
   * the embedding twin of [[graft.operators.DedupIndex.ingestBatch]]:
   * an arrival drops when a near-duplicate (cosine ≥ `threshold`)
   * already exists in the table, probing ONLY the arrival's `nProbe`
   * nearest lists (a static IN partition filter, batch-proportional
   * I/O), or earlier in the batch. The in-batch check is an exact
   * all-pairs broadcast self-join up to `maxExactBatch` rows — batch²
   * is the micro-batch regime, and exactness there avoids the LSH
   * recall caveat entirely — and falls back to banded sign-LSH
   * ([[embeddingDuplicates]]) above it, so a caller bulk-loading
   * through this entry point cannot detonate a quadratic join (the
   * greedy rule either way: drop the strictly-LARGER member of any
   * pair). Survivors append under the EXISTING codebook (validated
   * against the persisted sidecar). Returns the admitted count.
   *
   * Delivery with `batchId >= 0` is EXACTLY-ONCE, the same protocol as
   * the dedup loop: the admitted vectors stage under
   * `_staging_<batchId>` and publish with one atomic rename to
   * `ingest_batch=<batchId>`, then a `_committed` marker (holding the
   * admitted count) records completion; replays short-circuit on the
   * marker, partial crashes un-publish and recompute. The admit
   * decision is ALSO content-idempotent as defense in depth — a
   * replayed vector finds its previously-appended copy at cosine ~1.0
   * (same-id matches included by design) and drops. `batchId < 0`
   * keeps the plain at-least-once append for direct one-shot callers.
   *
   * Recall caveat (cross-probe only): a true near-dup in a list outside
   * the arrival's nProbe nearest can be missed — but near-duplicates
   * rank lists almost identically to their twins, the regime this check
   * exists for; SketchSpec exercises it with planted copies.
   */
  def ivfIngestBatch(newVecs: DataFrame, centroids: Seq[Seq[Float]], path: String,
      threshold: Double = 0.95, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      batchId: Long = -1L, maxExactBatch: Long = 10000L,
      leaseOwner: String = null, shard: Int = 0, nShards: Int = 1,
      rerankFrom: DataFrame = null): Long = StageCoalesce.sizeBased(newVecs.sparkSession) {
    val spark = newVecs.sparkSession
    val fs = AtRest.fsFor(spark, path)
    val marker = new org.apache.hadoop.fs.Path(path, s"_committed/batch-$batchId")
    if (batchId >= 0 && fs.exists(marker)) {
      val txt = new String(AtRest.readFile(fs, marker),
        java.nio.charset.StandardCharsets.UTF_8).trim
      txt.toLongOption match {
        case Some(n) => return n
        case None => fs.delete(marker, false)
      }
    }
    // marker absent below the compacted-marker watermark = checkpoint
    // truncation, not a replay — fail loudly (AtRest.compactMarkers)
    if (batchId >= 0) AtRest.failIfBelowWatermark(fs, path, batchId)
    val owner = if (leaseOwner != null) leaseOwner
      else java.util.UUID.randomUUID().toString
    if (nShards <= 1) AtRest.acquireLease(spark, path, owner)
    else AtRest.acquireShardLease(spark, path, owner, shard, nShards)
    try {
      val codesOnly = ivfCodesOnlyOf(spark, path)
      if (codesOnly && rerankFrom == null)
        throw new IllegalStateException(
          s"$path is a codes-only IVF-PQ table (no raw vectors at rest) — " +
            "the near-duplicate admission probe needs them; pass rerankFrom " +
            "(the id-addressable primary vector store: the cross-table check " +
            "then ADC-prefilters the pruned lists' codes and exact-verifies " +
            "candidates against the store), or keep codes-only tables " +
            "append-only (ivfAppendAtRest) / pre-deduped upstream")
      validateCodebook(spark, path, centroids)
      requireIdCol(spark, path, idCol)
      val dir = adoptDir(spark, path, centroids, idCol)
      if (batchId >= 0) {
        // un-publish a half-published crash leftover so the replay's probe
        // sees the exact pre-attempt state
        val batchDir = new org.apache.hadoop.fs.Path(dir, s"ingest_batch=$batchId")
        if (fs.exists(batchDir)) fs.delete(batchDir, true)
      }
      val ledgerBy = ivfLedgerByOf(spark, path)
      // same contract as the corpus twin: a ledgered table takes
      // checkpointed (replay-identified) ingests only, or the card's
      // exactly-once headline would silently weaken to at-least-once
      if (ledgerBy.isDefined && batchId < 0)
        throw new IllegalArgumentException(
          s"$path maintains an exactly-once vector-stats ledger, which an " +
            "ad-hoc (batchId < 0) append cannot honor — pass a stable " +
            "batchId >= 0 (or ingest through ivfIngestStream)")
      ledgerBy.foreach(g => require(newVecs.columns.contains(g),
        s"vector-stats ledger maintenance requires column '$g' (the table's " +
          s"_meta.json declares ledgerBy=$g); got " +
          newVecs.columns.mkString("[", ", ", "]")))
      val keepCols = (Seq(idCol, vecCol) ++ ledgerBy).distinct
      val b = newVecs.select(keepCols.map(col): _*).dropDuplicates(idCol)
        .persist(StorageLevel.MEMORY_AND_DISK_SER)
      // sharded fence covers only this writer's id range — reject
      // misrouted rows loudly (mirrors DedupIndex.ingestBatch)
      if (nShards > 1) {
        val nOutside = b.filter(
          pmod(xxhash64(col(idCol)), lit(nShards.toLong)) =!= shard).count()
        if (nOutside > 0)
          throw new IllegalStateException(
            s"$nOutside batch rows fall outside shard $shard of $nShards " +
              s"(pmod(xxhash64($idCol), $nShards)); route rows to their owning " +
              "shard's stream")
      }
      val nB = b.count()
      // localCheckpoint on the drop sets: tiny frames, enormous lineage
      // (all-pairs/LSH dedup, pruned table probe) that every downstream
      // consumer — admit anti-join, ledger counts, the sharded commit's
      // unions — would otherwise re-plan per action
      val inDrop = (
        if (nB <= maxExactBatch) {
          val lhs = b.select(col(idCol).as("_ia"), col(vecCol).as("_va"))
          val rhs = b.select(col(idCol).as("_ib"), col(vecCol).as("_vb"))
          lhs.join(broadcast(rhs), col("_ia") < col("_ib"))
            .filter(cosine(col("_va"), col("_vb")) >= threshold)
            .select(col("_ib").as(idCol)).distinct()
        } else
          // bulk-load guard: banded sign-LSH candidates + exact verify —
          // no broadcast NLJ in the plan, linear-ish in the batch
          embeddingDuplicates(b, threshold, idCol = idCol, vecCol = vecCol)
            .select(col("id_b").as(idCol)).distinct()
      ).localCheckpoint(true)
      val hasTable = {
        val p = new org.apache.hadoop.fs.Path(dir)
        fs.exists(p) && fs.listStatus(p).exists(_.getPath.getName.startsWith("ingest_batch="))
      }
      // snapshot of the table's batch dirs, taken just before the probe:
      // the sharded commit section re-probes against batches that COMMIT
      // after this point (the cross-shard in-flight window)
      val snapshotIds = ivfListBatchIds(fs, dir)
      val crossDrop =
        if (hasTable) {
          val probes = b.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
          val probeLists = ivfProbeLists(probes, centroids, nProbe)
          // bounded collect over the MODEL's keyspace (≤ nLists), the same
          // static-IN pruning as ivfTopKAtRest
          val wanted = probeLists.select("list_id").distinct()
            .collect().map(_.getInt(0)).sorted
          val pruned = spark.read.parquet(dir)
            .filter(col("list_id").isin(wanted.map(_.asInstanceOf[Any]): _*))
          // no same-id exclusion here (unlike the pair-REPORTING probes):
          // an arrival matching an at-rest row under its own id IS "already
          // ingested" — dropping it is what makes replays content-idempotent
          (if (codesOnly)
            crossProbeCodesOnly(spark, dir, path, pruned, probeLists,
              rerankFrom, centroids, threshold, idCol, vecCol)
          else pruned
            .join(broadcast(probeLists), "list_id")
            .filter(cosine(col("probe_vec"), col(vecCol)) >= threshold)
            .select(col("probe_id").as(idCol)).distinct())
            .localCheckpoint(true) // same lineage-cut as inDrop
        } else b.select(col(idCol)).limit(0)
      // materialized HERE — the heavy probing finishes before the
      // (serialized) sharded commit section below; checkpointed so the
      // commit's queries plan against a leaf, not the probe lineage
      val admitted0 = b.join(inDrop.unionByName(crossDrop).distinct(),
          Seq(idCol), "left_anti")
        .localCheckpoint(true)
      onBeforeCommitIvf()

      def publishAdjudicated(admitted: DataFrame, crossDropAll: DataFrame): Long = {
        val n = admitted.count()
        if (n > 0) {
          // signed tables sign arrivals under the recorded scheme (one
          // signature set per vector, before replica fan-out)
          val preSigned = lshSchemeOf(spark, path).fold(admitted) {
            case (p, t) => withLshSigs(admitted, vecCol, p, t)
          }
          val encoded = withPqCodes(
            ivfAssignMulti(preSigned, centroids, vecCol,
              ivfReplicasOf(spark, path)),
            spark, path, vecCol)
          // a codes-only table stays codes-only: assign + encode, then
          // drop the raw vectors like the seed write did
          val assigned = if (codesOnly) encoded.drop(vecCol) else encoded
          if (batchId >= 0) {
            // stage + one atomic rename, the exactly-once publish
            val target = new org.apache.hadoop.fs.Path(dir, s"ingest_batch=$batchId")
            if (!fs.exists(target)) {
              val staging = new org.apache.hadoop.fs.Path(dir, s"_staging_$batchId")
              writeListData(assigned, idCol, "overwrite", staging.toString)
              if (!fs.rename(staging, target))
                throw new IllegalStateException(
                  s"publish rename $staging -> $target failed")
            }
          } else {
            writeListData(assigned, idCol, "append",
              new org.apache.hadoop.fs.Path(dir, "ingest_batch=-1").toString)
          }
        }
        // ledger delta: published AFTER the data, BEFORE the marker — a
        // crash in between replays the whole batch and rewrites both
        // (publishLedgerDelta is an idempotent no-op on the replay), so
        // card and table can never disagree. Even an all-dropped batch
        // publishes (its drop counters are real).
        ledgerBy.foreach { g =>
          val crossOnly = crossDropAll.join(inDrop, Seq(idCol), "left_anti")
          val delta = DedupIndex.countLong(admitted, g, "n_vecs")
            .unionByName(DedupIndex.countLong(
              b.join(inDrop, Seq(idCol), "left_semi"), g, "n_dropped_batch"))
            .unionByName(DedupIndex.countLong(
              b.join(crossOnly, Seq(idCol), "left_semi"), g, "n_dropped_cross"))
          DedupIndex.publishLedgerDelta(delta, dir, batchId)
        }
        if (batchId >= 0)
          AtRest.writeFile(fs, marker,
            n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        n
      }

      // SHARDED commit: serialized by the table root's commit mutex, so
      // commits are total-ordered and each one re-adjudicates against
      // every batch committed since its probe snapshot — closing the
      // cross-shard in-flight window (two shards concurrently ingesting
      // near-identical vectors could both admit before either
      // published), exactly as [[DedupIndex.ingestBatch]] does for text.
      // The re-probe reads the delta batch DIRS only (batch-proportional
      // I/O); on a hit MY member drops — the committed side is
      // immutable. Unsharded writers skip the lock: their whole-root
      // lease already excludes concurrency.
      val n =
        if (nShards <= 1) publishAdjudicated(admitted0, crossDrop)
        else AtRest.withCommitLock(spark, path) {
          val delta = (ivfListBatchIds(fs, dir) -- snapshotIds - batchId)
            .filter(idB => fs.exists(
              new org.apache.hadoop.fs.Path(path, s"_committed/batch-$idB")))
          // prune by the SAME nProbe ranking as the main probe: a pair
          // this re-probe should catch sits in a delta list my arrivals
          // would probe, so only those list sub-dirs are read — and when
          // the intersection is empty (the every-batch case in a healthy
          // fleet) the whole re-probe is one bounded probe-list job plus
          // driver-side directory listings, no data read at all.
          val myLists: Set[Int] =
            if (delta.isEmpty) Set.empty
            else ivfProbeLists(
                admitted0.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec")),
                centroids, nProbe)
              .select("list_id").distinct().collect().map(_.getInt(0)).toSet
          val deltaDirs = delta.toSeq.sorted.flatMap { idB =>
            val bd = new org.apache.hadoop.fs.Path(dir, s"ingest_batch=$idB")
            fs.listStatus(bd).map(_.getPath).filter { p =>
              p.getName.startsWith("list_id=") &&
                p.getName.stripPrefix("list_id=").toIntOption.exists(myLists)
            }
          }
          if (deltaDirs.isEmpty) publishAdjudicated(admitted0, crossDrop)
          else {
            // codes-only: the delta dirs hold codes, not vectors — fetch
            // the (batch-sized) delta ids' vectors from the store. The
            // committed shard's arrivals are in the store by contract
            // (the store is upstream of ingest); a gap fails open, the
            // recheck's coverage check screams later.
            val theirs =
              if (codesOnly) {
                val theirIds = spark.read.parquet(deltaDirs.map(_.toString): _*)
                  .select(col(idCol)).distinct()
                rerankFrom.select(col(idCol), col(vecCol))
                  .join(broadcast(theirIds), Seq(idCol), "left_semi")
                  .select(col(vecCol).as("_vt")).distinct()
              } else spark.read.parquet(deltaDirs.map(_.toString): _*)
                .select(col(vecCol).as("_vt")).distinct()
            val more = theirs.join(
                broadcast(admitted0.select(col(idCol), col(vecCol))),
                cosine(col("_vt"), col(vecCol)) >= threshold)
              .select(col(idCol)).distinct()
              .persist(StorageLevel.MEMORY_AND_DISK_SER)
            val admitted = admitted0.join(more, Seq(idCol), "left_anti")
              .persist(StorageLevel.MEMORY_AND_DISK_SER)
            val out = publishAdjudicated(admitted,
              crossDrop.unionByName(more).distinct())
            admitted.unpersist(blocking = false)
            more.unpersist(blocking = false)
            out
          }
        }
      admitted0.unpersist(blocking = false)
      b.unpersist(blocking = false)
      n
    } finally if (leaseOwner == null) {
      if (nShards <= 1) AtRest.releaseLease(spark, path, owner)
      else AtRest.releaseShardLease(spark, path, owner, shard, nShards)
    }
  }

  /** Session conf: per-arrival candidate count for the codes-only
   *  cross-probe's ADC pass (default 64). ADC is an approximation whose
   *  absolute value shifts with quantization quality (a coarse m/ksub
   *  systematically UNDER-estimates cosine), so an absolute score cut
   *  cannot be calibrated — the check instead exact-verifies each
   *  arrival's top-R candidates BY ADC RANK, the same shape as the
   *  serving path's rerank. Higher = more point reads per arrival;
   *  a true near-dup outside its arrival's top-R slips through to the
   *  offline recheck (the same accretion class as the nProbe caveat,
   *  healed the same way). */
  val IngestAdcCandidatesKey = "spark.graft.ann.ingestAdcCandidates"

  /** The codes-only twin of the ingest cross-probe: the pruned lists are
   *  scanned as CODES (m bytes/row — the table stores nothing else), each
   *  arrival's top-R candidates by ADC fetch their raw vectors from the
   *  external store (a candidate-sized point read, never a store scan)
   *  and the drop decision is the same EXACT cosine as the full
   *  layout's. A candidate id the store cannot serve fails OPEN (the
   *  arrival is admitted — ingest must not die on a store gap); the
   *  offline recheck's coverage check is the loud backstop. */
  private def crossProbeCodesOnly(spark: org.apache.spark.sql.SparkSession,
      dir: String, path: String, pruned: DataFrame, probeLists: DataFrame,
      rerankFrom: DataFrame, centroids: Seq[Seq[Float]], threshold: Double,
      idCol: String, vecCol: String): DataFrame = {
    val (pqm, residual) = pqReadModelInfo(spark, dir)
    val r = confInt(spark, IngestAdcCandidatesKey, 64)
    val luts = probeLists.select(col("probe_id"), col("probe_vec"),
      col("list_id"),
      graft.functions.VectorFunctions.pq_lut(col("probe_vec"), pqm).as("_lut"),
      (if (residual)
        cosine(col("probe_vec"), element_at(typedLit(centroids), col("list_id") + 1))
      else lit(0.0)).as("_pc"))
    val w = Window.partitionBy("probe_id").orderBy(col("_adc").desc, col(idCol))
    // tiny frame: ≤ |batch| × R candidate rows — checkpointed because it
    // is consumed twice (the point fetch below and the verify join)
    val cand = pruned.select(col(idCol), col("pq_code"), col("list_id"))
      .join(broadcast(luts), "list_id")
      .withColumn("_adc",
        graft.functions.VectorFunctions.pq_adc(col("pq_code"), col("_lut"))
          + col("_pc"))
      .withColumn("_ar", row_number().over(w))
      .filter(col("_ar") <= r)
      .select(col("probe_id"), col("probe_vec"), col(idCol).as("_cand"),
        col("_ar"))
      .localCheckpoint(true)
    // rank truncation is a real divergence from the full layout (which
    // exact-verifies EVERY pruned row) — make it observable: an arrival
    // whose candidate list hits the cap had pruned rows beyond top-R that
    // were never exact-verified (one tiny agg on the checkpointed frame)
    val atCap = cand.groupBy("probe_id").agg(max(col("_ar")).as("_m"))
      .filter(col("_m") === r).count()
    if (atCap > 0)
      System.err.println(s"[graft] codes-only ingest cross-probe on $path: " +
        s"$atCap arrival(s) hit the ADC candidate cap R=$r " +
        s"($IngestAdcCandidatesKey) — pruned rows beyond top-R were not " +
        "exact-verified; a true near-dup ranked past R slips through to " +
        "the offline recheck")
    val fetched = rerankFrom
      .select(col(idCol).as("_cand"), col(vecCol).as("_cv"))
      .join(broadcast(cand.select(col("_cand")).distinct()),
        Seq("_cand"), "left_semi")
    cand.join(fetched, Seq("_cand"))
      .filter(cosine(col("probe_vec"), col("_cv")) >= threshold)
      .select(col("probe_id").as(idCol)).distinct()
  }

  /** Test seam: runs after the probe snapshot is materialized and before
   *  the commit section — a spec injects a concurrent shard's commit here
   *  to exercise the cross-shard delta re-probe deterministically. A
   *  no-op in production. */
  private[graft] var onBeforeCommitIvf: () => Unit = () => ()

  /** Test seam: receives [[ivfPqTopKAtRest]]'s ADC candidate frame before
   *  the candidate-id collect, so a spec can assert the code scan's
   *  partition pruning and column pruning on the OPERATOR's own plan (the
   *  returned frame only contains the rerank stage — the ADC pass has
   *  already executed by then). A no-op in production. */
  private[graft] var onPqAdcPlan: DataFrame => Unit = _ => ()

  /** Test/measurement seam: fires right after the ADC candidate pass has
   *  EXECUTED (the eager localCheckpoint) and before the rerank fetch —
   *  a byte-counting harness snapshots I/O counters here to isolate the
   *  ADC scan's reads from the rerank's. A no-op in production. */
  private[graft] var onPqAdcDone: () => Unit = () => ()

  /** Session conf: candidate-count ceiling for the rerank's static-IN
   *  point read (default 65536); past it the fetch falls back to a
   *  broadcast semi-join over the same pruned lists (the scan stays
   *  partition-pruned; only the row-group/page skip from the literal IN
   *  is lost). The store-layout trade: an id-sorted, tight-paged store
   *  (the [[writeListData]] layout) profits from a HIGH ceiling — every
   *  candidate id is one page skip — while a store with huge pages or
   *  unsorted ids gains nothing from the literal IN past the planner
   *  cost, so a LOW ceiling moves it to the semi-join sooner. */
  val RerankInThresholdKey = "spark.graft.ann.rerankInThreshold"

  /** Session conf: max candidate ids rendered as the chunked-In pushdown
   *  (default 2048 → ≤205 ten-value In disjuncts; a bigger plan costs
   *  more in the optimizer than the page skips save). Above it the wide
   *  isin alone keeps min/max range pushdown until the
   *  [[RerankInThresholdKey]] semi-join fallback. Raise it for stores
   *  whose page rows are large (each skipped page is worth more); lower
   *  it if planning latency dominates small probes. */
  val InChunkMaxKey = "spark.graft.ann.inChunkMax"

  private def confInt(spark: org.apache.spark.sql.SparkSession, key: String,
      default: Int): Int =
    spark.conf.getOption(key).map(_.trim.toInt).getOrElse(default)

  private def ivfListBatchIds(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .flatMap(_.stripPrefix("ingest_batch=").toLongOption).toSet
  }

  // ----------------------------------------------------------- vector ledger

  /** The ledgerBy table property, if the IVF table maintains a ledger. */
  private def ivfLedgerByOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] =
    AtRest.readMeta(spark, path).flatMap(_.get("ledgerBy"))

  private val IvfLedgerCounters =
    Seq("n_vecs", "n_dropped_batch", "n_dropped_cross", "n_removed_recheck")

  /**
   * INCREMENTAL per-source stats for the at-rest VECTOR table — the IVF
   * twin of [[graft.operators.DedupIndex.ledgerCard]]: admitted vectors
   * and the ingest loop's near-duplicate drop history (in-batch vs
   * cross-table), grouped by the table's `ledgerBy` column, read from
   * O(committed batches × sources) tiny ledger rows instead of a table
   * scan. Maintained by [[ivfIngestBatch]] under the same exactly-once
   * protocol as the data (delta publishes after the batch dir, before the
   * `_committed` marker — a crash between them replays and rewrites
   * both), collapsed to one seed delta by [[ivfCompactAtRest]]/
   * [[ivfRetrain]] (which move no vectors, so the card is invariant
   * across maintenance). Enable at seed time
   * ([[ivfWriteAtRest]]`(..., ledgerBy = <col>)`) or migrate a live table
   * with [[ivfEnableLedger]]. Loud error on unledgered tables.
   */
  def ivfLedgerCard(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val grpName = ivfLedgerByOf(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path maintains no vector-stats ledger — seed with " +
          "ivfWriteAtRest(..., ledgerBy = <col>) or migrate with ivfEnableLedger"))
    val lf = DedupIndex.ledgerLong(spark, AtRest.resolve(spark, path)).getOrElse(
      throw new IllegalStateException(
        s"$path declares ledgerBy=$grpName but has no _ledger deltas — " +
          "the table is damaged; re-run ivfEnableLedger to rebuild"))
    val aggs = IvfLedgerCounters.map(c =>
      sum(when(col("counter") === c, col("value")).otherwise(0L)).as(c))
    lf.groupBy("grp").agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("grp", grpName)
      .orderBy(grpName)
  }

  /** Migrate an existing (unledgered) IVF table to ledger maintenance:
   *  one recompute of `n_vecs` over the CURRENT table as the collapsed
   *  seed delta, plus the meta property that turns every later
   *  [[ivfIngestBatch]] incremental. Drop-history counters start at 0 —
   *  the history before enablement was never recorded anywhere. */
  def ivfEnableLedger(spark: org.apache.spark.sql.SparkSession, path: String,
      ledgerBy: String): Unit = AtRest.withLease(spark, path) {
    val meta = AtRest.readMeta(spark, path).getOrElse(
      throw new IllegalStateException(
        s"$path has no _meta.json — seed it through ivfWriteAtRest first"))
    val dir = AtRest.resolve(spark, path)
    val fs = AtRest.fsFor(spark, path)
    val ld = new org.apache.hadoop.fs.Path(dir, "_ledger")
    if (fs.exists(ld)) fs.delete(ld, true)
    // drop the assignment columns and dedupe: a multi-assigned table holds
    // each vector once per replica, which must not inflate n_vecs
    val cur = ivfRead(spark, path).drop("list_id", "ingest_batch").dropDuplicates()
    require(cur.columns.contains(ledgerBy),
      s"ledgerBy=$ledgerBy is not a column of the at-rest table " +
        s"(got ${cur.columns.mkString("[", ", ", "]")}) — re-ingest with it " +
        "or pick a persisted column")
    DedupIndex.publishLedgerDelta(DedupIndex.countLong(cur, ledgerBy, "n_vecs"),
      dir, DedupIndex.SeedBatch)
    AtRest.writeMeta(spark, path, meta + ("ledgerBy" -> ledgerBy))
  }

  /** Marker-retention maintenance for the IVF table, mirroring
   *  [[graft.operators.DedupIndex.compactMarkers]]: watermark + sweep of
   *  `_committed` markers below the oldest replayable batchId. */
  def ivfCompactMarkers(spark: org.apache.spark.sql.SparkSession, path: String,
      oldestReplayable: Long): Unit = AtRest.withLease(spark, path) {
    AtRest.compactMarkers(spark, path, oldestReplayable)
  }

  /** [[ivfIngestBatch]] under the table's OWN persisted codebook. */
  def ivfIngestBatch(newVecs: DataFrame, path: String, threshold: Double,
      nProbe: Int, idCol: String, vecCol: String, batchId: Long): Long =
    ivfIngestBatch(newVecs, storedCodebook(newVecs.sparkSession, path), path,
      threshold, nProbe, idCol, vecCol, batchId)

  /** [[ivfIngestBatch]] under the table's OWN persisted codebook, with the
   *  codes-only deployment's external vector store. */
  def ivfIngestBatch(newVecs: DataFrame, path: String, threshold: Double,
      nProbe: Int, idCol: String, vecCol: String, batchId: Long,
      rerankFrom: DataFrame): Long =
    ivfIngestBatch(newVecs, storedCodebook(newVecs.sparkSession, path), path,
      threshold, nProbe, idCol, vecCol, batchId, rerankFrom = rerankFrom)

  // --------------------------------------------------------- offline recheck

  /**
   * OFFLINE near-duplicate recheck over the at-rest IVF table —
   * [[graft.operators.DedupIndex.recheckCorpus]]'s vector twin and the
   * deep-clean backstop for the ingest loop's documented CROSS-PROBE
   * caveat ([[ivfIngestBatch]]): an arrival whose true near-dup sits in a
   * list outside its nProbe nearest is admitted, and such pairs accrete
   * at rest with no pass that ever revisits them. This pass finds
   * near-dup pairs across the WHOLE table with banded sign-LSH + exact
   * cosine verification ([[embeddingDuplicates]] — the LSH buckets are
   * independent of the IVF Voronoi cells, which is exactly why it
   * catches what the pruned probe missed), keeps each cluster's best
   * member (`scoreCol` descending; null = keep the smallest id, the
   * ingest loop's greedy drop-larger rule applied transitively), rewrites
   * the survivors as a staged version with one atomic pointer swap
   * (assignments, codes, codebook, PQ model and replay markers all
   * carry — no vector changes lists), and adjusts the stats ledger
   * (`n_vecs` subtracts, `n_removed_recheck` counts). Returns the
   * dropped count; 0 leaves the table untouched. Lease-fenced offline
   * maintenance, like compact/retrain.
   */
  def ivfRecheck(spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding", scoreCol: String = null,
      planesPerTable: Int = 0, tables: Int = 0, maxBucket: Int = 1000,
      rerankFrom: DataFrame = null): Long =
    StageCoalesce.sizeBased(spark)(AtRest.withLease(spark, path) {
      recheckSweep(spark, path, sinceBatch = None,
        threshold, idCol, vecCol, scoreCol, planesPerTable, tables, maxBucket,
        rerankFrom)
    })

  /**
   * [[ivfRecheck]] restricted to RECENT arrivals — the frequent backstop
   * pass: only vectors in batch dirs `ingest_batch >= sinceBatch` are
   * re-examined (new-vs-old and new-vs-new pairs; old-vs-old pairs were
   * adjudicated by the previous pass, the same contract as
   * [[graft.operators.DedupIndex.recheckSince]]). EXACTLY-ONCE under
   * replay: a committed `_committed/recheck-<recheckId>` marker
   * short-circuits; a crash after the version swap but before the marker
   * re-runs against the already-cleaned table, finds nothing, and
   * commits — table and ledger stay exact either way (the swap is the
   * publish, and the ledger adjustment rides inside it atomically).
   *
   * Honest scale shape: on a SIGNED table (any table seeded or re-signed
   * since the signature columns persist — see [[LshSigCol]]) the pass
   * reads one narrow (id, signatures) column pair, restricts the bucket
   * join to buckets a window id occupies, and fetches raw vectors only
   * for candidate pairs — batch-proportional compute, with one cheap
   * sig-column scan as the only whole-table touch (no vector I/O, no
   * signing). An UNSIGNED table (seeded with `lshPlanes = -1`, or
   * adopted by an append) signs the whole table in-flight per pass — run
   * [[ivfResign]] once to sign it. The REWRITE only happens when drops were found, and
   * drops are rare in steady state. Returns the dropped count.
   */
  def ivfRecheckSince(spark: org.apache.spark.sql.SparkSession, path: String,
      sinceBatch: Long, recheckId: Long, threshold: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scoreCol: String = null, planesPerTable: Int = 0, tables: Int = 0,
      maxBucket: Int = 1000, rerankFrom: DataFrame = null): Long =
      StageCoalesce.sizeBased(spark) {
    require(recheckId >= 0, s"recheckId must be >= 0, got $recheckId")
    val fs = AtRest.fsFor(spark, path)
    DedupIndex.recheckMarkerInfo(fs, path, recheckId) match {
      case Some(m) => return m.removed
      case None => // absent or unparsable (the latter deleted) — run
    }
    AtRest.withLease(spark, path) {
      // the highest COMMITTED batch this pass will have adjudicated —
      // snapshotted under the lease and recorded in the marker, so the
      // frontier advance derives from actual coverage
      val coveredUpTo = DedupIndex.maxCommittedBatch(fs, path)
      // maintenance (compact/retrain/recheck-rewrite) folds batch dirs
      // into the seed: when this window starts below the fold frontier,
      // the folded batches have no dirs to scope by — fall back to a
      // FULL sweep for this one pass (the next pass's window starts
      // past coveredUpTo and is incremental again)
      val since =
        if (sinceBatch < AtRest.collapseFrontier(fs, path)) None
        else Some(sinceBatch)
      val n = recheckSweep(spark, path, sinceBatch = since,
        threshold, idCol, vecCol, scoreCol, planesPerTable, tables, maxBucket,
        rerankFrom)
      // the marker records the window the pass ACTUALLY ran from (a
      // full-sweep fallback covers from 0) — what a frontier bootstrap
      // may safely resume past
      AtRest.writeFile(fs,
        new org.apache.hadoop.fs.Path(path, s"_committed/recheck-$recheckId"),
        s"$n $coveredUpTo ${since.getOrElse(0L)}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      n
    }
  }

  /**
   * [[ivfRecheckSince]] with ZERO caller bookkeeping — the cron-shaped
   * entry, mirroring [[graft.operators.DedupIndex.recheckIncremental]]:
   * `sinceBatch`/`recheckId` derive from the persisted
   * `_committed/recheck-frontier` (absent = everything since batch 0),
   * and the frontier advances from the committed marker's own recorded
   * coverage — a crash between the recheck's commit and the frontier
   * write re-runs with the same id, short-circuits on the marker, and
   * advances to exactly the covered range; later batches stay ahead of
   * the frontier for the next pass.
   */
  def ivfRecheckIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, threshold: Double = 0.95, idCol: String = "vec_id",
      vecCol: String = "embedding", scoreCol: String = null,
      planesPerTable: Int = 0, tables: Int = 0, maxBucket: Int = 1000,
      rerankFrom: DataFrame = null): Long = StageCoalesce.sizeBased(spark) {
    val fs = AtRest.fsFor(spark, path)
    val (since, id) = DedupIndex.readFrontier(fs, path).getOrElse {
      val dir = new org.apache.hadoop.fs.Path(path, "_committed")
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
          DedupIndex.recheckMarkerInfo(fs, path, mid) match {
            case Some(DedupIndex.RecheckMarker(_, cov, 0L)) =>
              (cov + 1L, mid + 1L)
            case _ => (0L, mid + 1L)
          }
        case None => (0L, 0L)
      }
    }
    val n = ivfRecheckSince(spark, path, since, id, threshold, idCol, vecCol,
      scoreCol, planesPerTable, tables, maxBucket, rerankFrom)
    val nextSince = DedupIndex.recheckMarkerInfo(fs, path, id).getOrElse(
      throw new IllegalStateException(
        s"recheck-$id committed but its marker is unreadable")).coveredUpTo + 1L
    AtRest.writeFile(fs, DedupIndex.frontierPath(path),
      s"$nextSince ${id + 1L}".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    n
  }

  /** The shared sweep: find → keep-best → (conditionally) rewrite +
   *  ledger-adjust. Callers hold the lease. `sinceBatch = None` examines
   *  every pair; `Some(b)` restricts to pairs involving a vector from
   *  `ingest_batch >= b`. On a SIGNED table (meta `lshPlanes`/`lshTables`
   *  + the [[LshSigCol]] column) the pair search joins the persisted
   *  signatures — no signing, no whole-table vector read; raw vectors are
   *  fetched only for candidate pairs (from the table, or from
   *  `rerankFrom` on a codes-only table — where the sweep still checks
   *  FULL id coverage loudly, an ids-only anti-join, because an id the
   *  store cannot serve is unadjudicable by any later pass). An unsigned
   *  table signs in-flight. A FULL sweep
   *  additionally re-signs + rewrites when the caller requests a new
   *  scheme or the table has outgrown its recorded one (planes must track
   *  log2 n — see [[autoLshPlanes]]); survivors keep their existing
   *  assignments AND codes either way, so the drop rewrite is a pure
   *  filter. Multi-vector ids (update-style re-admissions) adjudicate
   *  through ONE of their vectors (the id-dedupe pick; on a signed table
   *  the signature and the verify vector may come from different
   *  admissions — both converge to the store/current vector at the next
   *  retrain or resign). */
  private def recheckSweep(spark: org.apache.spark.sql.SparkSession,
      path: String, sinceBatch: Option[Long],
      threshold: Double, idCol: String, vecCol: String, scoreCol: String,
      planesPerTable: Int, tables: Int, maxBucket: Int,
      rerankFrom: DataFrame): Long = {
    val codesOnly = ivfCodesOnlyOf(spark, path)
    if (codesOnly && rerankFrom == null)
      throw new IllegalStateException(
        s"$path is a codes-only IVF-PQ table (no raw vectors at rest) — " +
          "the offline near-dup recheck needs them; pass rerankFrom (the " +
          "id-addressable primary vector store) and the sweep will pair " +
          "on the persisted signatures and exact-verify candidates from " +
          "it (the drop rewrite is a pure filter on the codes table)")
    requireIdCol(spark, path, idCol)
    val dir = AtRest.resolve(spark, path)
    val table = spark.read.parquet(dir)
    val replicas = math.max(ivfReplicasOf(spark, path), 1)
    // codes-only: FULL id coverage against the store, checked loudly up
    // front (ids only — no vector read) — same contract as the retrain
    if (codesOnly) {
      val missing = table.select(col(idCol)).distinct()
        .join(rerankFrom.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
        .count()
      if (missing > 0)
        throw new IllegalStateException(
          s"rerankFrom is missing vectors for $missing of the table's " +
            "ids — the recheck cannot adjudicate them; backfill the store")
    }
    // the recorded scheme is live only when the data actually carries it
    val scheme = lshSchemeOf(spark, path)
      .filter(_ => table.columns.contains(LshSigCol))
    val caller: Option[(Int, Int)] =
      if (planesPerTable > 0)
        Some((planesPerTable,
          if (tables > 0) tables else autoLshTables(planesPerTable)))
      else None
    val nIds = math.max(table.count() / replicas, 1L) // parquet footer count
    val autoScheme = { val p = autoLshPlanes(nIds); (p, autoLshTables(p)) }
    // Signature source for this pass: persisted (no signing at all), or
    // in-flight at `signScheme`; `resignTo` makes a FULL sweep rewrite
    // the table with fresh signatures at that scheme (meta-recorded)
    // even when it drops nothing.
    val (usePersisted, signScheme, resignTo) = scheme match {
      case Some(s) => caller match {
        case Some(c) if c != s =>
          if (sinceBatch.isDefined)
            throw new IllegalArgumentException(
              s"$path is signed at planes=${s._1}/tables=${s._2} but the " +
                s"caller asked for planes=${c._1}/tables=${c._2} — an " +
                "incremental window cannot re-sign the table; run " +
                "ivfResign (or a full ivfRecheck at the new scheme), or " +
                "pass planesPerTable = 0 to use the recorded scheme")
          System.err.println(s"[graft] ivfRecheck on $path: re-signing at " +
            s"planes=${c._1}/tables=${c._2} (recorded ${s._1}/${s._2}) — " +
            "full rewrite, meta-recorded")
          (false, c, Some(c))
        case _ =>
          if (sinceBatch.isEmpty && s._1 < autoScheme._1 - 1) {
            // the table outgrew its recorded scheme (per-bucket load grows
            // linearly past it) — the full sweep is the natural whole-
            // table pass to upgrade it; incremental windows keep using
            // the recorded scheme until one runs
            System.err.println(s"[graft] ivfRecheck on $path: ~$nIds ids " +
              s"outgrow the recorded signature scheme planes=${s._1}/" +
              s"tables=${s._2} — re-signing at planes=${autoScheme._1}/" +
              s"tables=${autoScheme._2}")
            (false, autoScheme, Some(autoScheme))
          } else (true, s, None)
      }
      case None => (false, caller.getOrElse(autoScheme), None)
    }
    // pair-search inputs: an exploded (id, tbl, sig) frame plus an
    // (id, vec) lookup that pairsFromSigs touches only for candidates
    val storeVecs =
      if (codesOnly) rerankFrom.select(col(idCol).as("id"),
        col(vecCol).as("vec")).dropDuplicates("id")
      else null
    val (sigsFrame, vecsFrame) =
      if (usePersisted) {
        val base = table.select(col(idCol).as("id"), col(LshSigCol))
          .dropDuplicates("id")
        val vecs =
          if (codesOnly) storeVecs
          else table.select(col(idCol).as("id"), col(vecCol).as("vec"))
            .dropDuplicates("id")
        (explodeSigs(base, "id"), vecs)
      } else {
        val (p, t) = signScheme
        val uniqVecs =
          if (codesOnly) storeVecs.join(
            table.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi")
          else table.select(col(idCol).as("id"), col(vecCol).as("vec"))
            .dropDuplicates("id")
        val sigs = uniqVecs.select(col("id"),
          posexplode(array((0 until t).map(tt =>
            lshSignature(col("vec"), p, tt * p)): _*)).as(Seq("tbl", "sig")))
        (sigs, uniqVecs)
      }
    val newIdsOpt = sinceBatch.map { b =>
      table.filter(col("ingest_batch") >= b).select(col(idCol)).distinct()
    }
    // pairs come back persisted (materializeThenFree) — keep the handle
    // so it can be unpersisted below
    val pairsRaw = pairsFromSigs(sigsFrame, vecsFrame, newIdsOpt, threshold,
      maxBucket, requireVecCoverage = codesOnly)
    val scored = table
      .select((col(idCol) +: Option(scoreCol).map(col).toSeq): _*)
      .dropDuplicates(idCol)
      .withColumn("_score", Option(scoreCol).map(col).getOrElse(lit(0)))
    val best = Dedup.nearDupKeepBest(scored,
      pairsRaw.select("id_a", "id_b"), "_score", idCol)
    val dropIds = best.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id").as(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val n = dropIds.count()
    // the pair frame is fully consumed once dropIds materializes — free
    // it, or a cron-shaped recheck loop leaks one cached frame per pass
    pairsRaw.unpersist(blocking = false)
    // an unsigned-but-codebook'd table that rewrites anyway gets its
    // signatures persisted for free (the explicit migration is ivfResign)
    val newScheme = resignTo.orElse(
      if (scheme.isEmpty && n > 0 && readCodebook(spark, path).isDefined)
        Some(signScheme)
      else None)
    if (n > 0 || resignTo.isDefined) {
      // survivors keep their existing assignments AND codes — removal
      // moves no vector between lists, so the rewrite is a pure filter
      // (swapRewrite re-carries codebook, PQ model, meta, markers)
      val cb = storedCodebook(spark, path)
      val survivors0 = table.drop("ingest_batch")
        .join(dropIds, Seq(idCol), "left_anti")
      val survivors = newScheme match {
        case None => survivors0
        case Some((p, t)) =>
          val bare = survivors0.drop(LshSigCol)
          if (codesOnly)
            // re-sign from the store (full coverage checked loudly above,
            // so the inner join drops nothing)
            withLshSigs(bare.join(rerankFrom.select(col(idCol), col(vecCol))
              .dropDuplicates(idCol), Seq(idCol)), vecCol, p, t).drop(vecCol)
          else withLshSigs(bare, vecCol, p, t)
      }
      val adjust =
        if (n == 0) None
        else ivfLedgerByOf(spark, path).map { g =>
          // the subtraction counts ADMISSIONS, not distinct (id, group)
          // pairs: every admission incremented n_vecs by one and wrote
          // exactly `replicas` physical rows (its vector's `replicas`
          // nearest lists — compact/retrain rewrites preserve row
          // multiplicity), and the anti-join below removes every physical
          // row with a dropped id. An id re-admitted in a later batch with
          // a sub-threshold-different vector (update-style re-ingest)
          // counted twice — counting rows / replicas mirrors that;
          // DISTINCT (id, group) would subtract once and drift the ledger.
          // Divisibility is ASSERTED, not floored: a non-integral quotient
          // means the every-admission-wrote-replicas-rows invariant broke
          // upstream, and silently truncating would under-subtract n_vecs
          // with no signal.
          val removedRows = table.join(dropIds, Seq(idCol), "left_semi")
          val cnt = count(lit(1))
          val admissions = removedRows
            .groupBy(col(g).cast("string").as("grp"))
            .agg(when(cnt % lit(replicas.toLong) =!= 0,
                raise_error(concat(
                  lit(s"recheck ledger subtraction on $path: group '"),
                  col(g).cast("string"),
                  lit(s"' drops a row count not divisible by replicas=" +
                    s"$replicas — the 'every admission wrote exactly " +
                    "replicas rows' invariant is broken; repair the " +
                    "table (ivfRetrain preserves admission multiplicity)"))))
              .otherwise(cnt / replicas).cast("long").as("value"))
          admissions.select(col("grp"), lit("n_vecs").as("counter"),
              (-col("value")).as("value"))
            .unionByName(admissions.select(col("grp"),
              lit("n_removed_recheck").as("counter"), col("value")))
        }
      swapRewrite(survivors.repartition(cb.length, col("list_id")), path, cb,
        ledgerAdjust = adjust.orNull, lshOverride = newScheme)
    }
    dropIds.unpersist(blocking = false)
    n
  }

  /** Shared LSH pair search: bucket-join an exploded signature frame
   *  (id, tbl, sig), prune degenerate buckets (> `maxBucket` — all-equal
   *  vectors would contribute k² rows), optionally restrict to pairs
   *  INVOLVING an id from `newIds` (the incremental window), then fetch
   *  ONLY the candidate ids' vectors from `vecs` (id, vec) for the exact
   *  cosine verification. The bucket join carries IDS only — vectors
   *  never ride the `tables`× signature shuffle. Emits undirected
   *  `(id_a < id_b)` pairs, plus the rounded score when `withCosine`.
   *  `requireVecCoverage` fails loudly when `vecs` cannot serve a
   *  candidate id (the codes-only external-store contract) — without it
   *  an unservable candidate would silently drop its pair. */
  private def pairsFromSigs(sigs0: DataFrame, vecs: DataFrame,
      newIds: Option[DataFrame], threshold: Double, maxBucket: Int,
      withCosine: Boolean = false,
      requireVecCoverage: Boolean = false): DataFrame =
      StageCoalesce.sizeBased(sigs0.sparkSession) {
    // bucket-size prune as a window count over (tbl, sig) — ONE shuffle
    // of the signature keys, already the hash partitioning + ordering the
    // self-join below needs, with the pruned frame persisted so both join
    // sides read the cached co-partitioned copy (the groupBy → join-back
    // formulation shuffled the signature frame three times; guide §2.4 —
    // same reshape as Dedup.bandedCandidatePairs)
    // bucket-size prune + within-bucket pair emission in ONE sorted
    // run-length pass over the signature keys (Dedup.cappedRunPairs):
    // the keys shuffle once, nothing is persisted, no self-join, and a
    // degenerate bucket costs O(maxBucket) task memory instead of a
    // window/group buffer (guide §2.4/§2.5; three-arm A/B vs the r16
    // groupBy and r17 window formulations in OPTIMIZATION_r18.md §1).
    // Incremental mode: the "pair involves a new id" restriction rides
    // as a boolean flag attached BEFORE the shuffle (left join against
    // the distinct new ids — broadcast-sized in steady state) instead of
    // a semi-join + join against a persisted pruned frame.
    val pairs = (newIds match {
      case None =>
        Dedup.cappedRunPairs(sigs0, Seq("tbl", "sig"), "id", maxBucket)
      case Some(ids) =>
        val flag = ids.select(col(ids.columns.head).as("id")).distinct()
          .withColumn("_new", lit(true))
        Dedup.cappedRunPairs(sigs0.join(flag, Seq("id"), "left"),
          Seq("tbl", "sig"), "id", maxBucket, flagCol = Some("_new"))
    }).persist(StorageLevel.MEMORY_AND_DISK_SER)
    val candIds = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nCand = candIds.count()
    // candidate-proportional vector fetch: in steady state drops are rare
    // and candidates few, so a bounded collect + literal IN pushes into
    // the vector source's scan (page skipping on an id-sorted layout)
    // instead of scanning the whole vector column under a semi-join; past
    // the ceiling (same conf as the rerank point read) fall back
    val spark = vecs.sparkSession
    val cand = (
      if (nCand == 0) vecs.select(col("id"), col("vec")).limit(0)
      else if (nCand <= confInt(spark, RerankInThresholdKey, 65536)) {
        val ids = candIds.collect().map(_.get(0)) // bounded by the conf ceiling
        vecs.select(col("id"), col("vec")).filter(col("id").isin(ids: _*))
      } else vecs.select(col("id"), col("vec"))
        .join(candIds, Seq("id"), "left_semi")
    ).persist(StorageLevel.MEMORY_AND_DISK_SER)
    if (requireVecCoverage && nCand > 0) {
      val missing = nCand - cand.count()
      if (missing > 0)
        throw new IllegalStateException(
          s"the vector source is missing $missing candidate ids the pair " +
            "search needs for exact verification — backfill the store")
    }
    val verified = pairs
      .join(cand.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(cand.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("cos", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
    val out =
      if (withCosine)
        verified.select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cosine")).orderBy("id_a", "id_b")
      else verified.select("id_a", "id_b")
    // materialize the (small) pair result, then free the intermediate
    // caches — leaked persists thrash under memory pressure
    Dedup.materializeThenFree(out, pairs, candIds, cand)
  }

  /** The streaming wrapper, mirroring
   *  [[graft.operators.DedupIndex.ingestStream]]: every micro-batch of
   *  `vecs` flows through [[ivfIngestBatch]] with its foreachBatch
   *  batchId — exactly-once end to end, durable state being the at-rest
   *  IVF table itself. Holds the table's writer lease for the stream's
   *  lifetime (owner derived from the checkpoint, released on
   *  termination) — a second concurrent vector ingest stream fails at
   *  start(). The codebook is fixed for the stream's lifetime — re-train
   *  offline with [[ivfRetrain]] and restart. */
  def ivfIngestStream(vecs: DataFrame, centroids: Seq[Seq[Float]], path: String,
      checkpointPath: String, threshold: Double = 0.95, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerankFromPath: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vecs.sparkSession
    val owner = s"ckpt:$checkpointPath"
    AtRest.acquireLease(spark, path, owner)
    val query =
      try vecs.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          // rerankFromPath (the codes-only deployment): the store is
          // re-read PER BATCH — a DataFrame captured at stream start would
          // pin the file listing of that moment and never see the store
          // grow alongside the stream
          ivfIngestBatch(b, centroids, path, threshold, nProbe, idCol, vecCol,
            batchId = id, leaseOwner = owner,
            rerankFrom = Option(rerankFromPath).map(spark.read.parquet).orNull)
          ()
        }
        .start()
      catch { case e: Throwable =>
        AtRest.releaseLease(spark, path, owner); throw e
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
          AtRest.releaseLease(spark, path, owner)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // a query that died before the listener registered never gets its
    // termination event — release now instead of waiting out the TTL
    if (!query.isActive) {
      AtRest.releaseLease(spark, path, owner)
      spark.streams.removeListener(listener)
    }
    query
  }

  /** SHARDED vector ingest, mirroring
   *  [[graft.operators.DedupIndex.ingestStreamSharded]]: N streams share
   *  one at-rest IVF table over disjoint `pmod(xxhash64(id), nShards)`
   *  ranges — per-shard leases (same loud conflict matrix), input
   *  filtered to the own range, foreachBatch ids namespaced
   *  `id × nShards + shard` so the exactly-once markers and batch dirs
   *  never collide. Cross-shard near-dups are caught twice: the
   *  cross-probe covers every batch COMMITTED at probe time, and the
   *  commit-mutex-serialized delta re-probe inside [[ivfIngestBatch]]
   *  covers batches that commit inside a batch's in-flight window —
   *  the later committer's member drops, so two racing shards can no
   *  longer both admit a near-identical pair. All shards must hold the
   *  SAME codebook (validated against the persisted sidecar either
   *  way). */
  def ivfIngestStreamSharded(vecs: DataFrame, centroids: Seq[Seq[Float]],
      path: String, checkpointPath: String, shard: Int, nShards: Int,
      threshold: Double = 0.95, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerankFromPath: String = null)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(nShards > 1 && shard >= 0 && shard < nShards,
      s"ivfIngestStreamSharded needs nShards > 1 and shard in [0, nShards): " +
        s"got $shard of $nShards (single-writer = ivfIngestStream)")
    val spark = vecs.sparkSession
    val owner = s"ckpt:$checkpointPath"
    AtRest.acquireShardLease(spark, path, owner, shard, nShards)
    val own = vecs.filter(
      pmod(xxhash64(col(idCol)), lit(nShards.toLong)) === shard)
    val query =
      try own.writeStream
        .option("checkpointLocation", checkpointPath)
        .foreachBatch { (b: DataFrame, id: Long) =>
          // store re-read per batch — see ivfIngestStream
          ivfIngestBatch(b, centroids, path, threshold, nProbe, idCol, vecCol,
            batchId = id * nShards + shard, leaseOwner = owner,
            shard = shard, nShards = nShards,
            rerankFrom = Option(rerankFromPath).map(spark.read.parquet).orNull)
          ()
        }
        .start()
      catch { case e: Throwable =>
        AtRest.releaseShardLease(spark, path, owner, shard, nShards); throw e
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
          AtRest.releaseShardLease(spark, path, owner, shard, nShards)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    if (!query.isActive) {
      AtRest.releaseShardLease(spark, path, owner, shard, nShards)
      spark.streams.removeListener(listener)
    }
    query
  }

  /**
   * Embedding near-duplicate pairs via BANDED sign-LSH + cosine threshold.
   *
   * `tables` independent signatures of `planesPerTable` bits each (the same
   * band trick as MinHash-LSH): a pair is a candidate when ANY table's
   * signature matches exactly. The r01 single-8-plane version capped the key
   * space at 256 buckets, making the within-bucket self-join O(n²/256) — a
   * quadratic wall at scale. 16-bit tables give 65,536 buckets per table;
   * 4 tables keep recall high for cosine ≥ 0.9 pairs. Buckets larger than
   * `maxBucket` are dropped before the self-join (degenerate all-equal
   * vectors would otherwise contribute k² rows).
   */
  def embeddingDuplicates(corpus: DataFrame, threshold: Double,
      planesPerTable: Int = 16, tables: Int = 4, maxBucket: Int = 1000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // bucket join carries IDs only (vectors would be shuffled `tables`×);
    // candidate pairs then fetch the two vectors via a point-read/semi-
    // join-reduced join (pairsFromSigs — shared with the at-rest sweep,
    // which feeds PERSISTED signatures instead of signing here)
    val sigs = corpus.select(col(idCol).as("id"),
      posexplode(array((0 until tables).map(tt =>
        lshSignature(col(vecCol), planesPerTable, tt * planesPerTable)): _*))
        .as(Seq("tbl", "sig")))
    pairsFromSigs(sigs,
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
      newIds = None, threshold, maxBucket, withCosine = true)
  }

  // ------------------------------------------------- threshold calibration

  /**
   * Data-derived near-dup threshold — at scale a CONSTANT cosine
   * threshold either drops real data or misses duplicates: the r16
   * decade run found 17 GENUINE ≥ 0.95 cosine collisions among
   * same-magnitude-profile NON-duplicates at 5M rows, and the collision
   * count in the pair space grows ~n². This operator samples the
   * corpus's non-duplicate pair-cosine distribution and returns the
   * threshold at a target false-collision quantile as an EXACT ORDER
   * STATISTIC — the k-th largest sampled pair cosine, k = max(1,
   * ceil(`falsePairRate` × nPairs)) — so a dedup threshold set ABOVE the
   * returned value bounds the expected false-collision probability of a
   * random non-dup pair by ~falsePairRate. An order statistic (not an
   * interpolated quantile) keeps the result engine-exact: DuckDB
   * recomputes it bit-for-bit over the same rounded cosines
   * (q_sim_calibrate), no float-interpolation ambiguity.
   *
   * Sample: the deterministic [[hashSample]] id-cut (`maxSampleRows`,
   * default 2048 → ~2M pairs, one broadcast self-join); pass a
   * pre-filtered frame with `maxSampleRows <= 0` to control the sample
   * exactly. Random pairs are overwhelmingly non-duplicates, so the
   * sampled distribution IS the null distribution up to the true-dup
   * rate — a corpus suspected >~1% true dups should be deduped once at a
   * conservative threshold before calibrating.
   *
   * Returns one row: (n_sampled, n_pairs, k, threshold).
   */
  def calibrateThreshold(corpus: DataFrame, falsePairRate: Double = 1e-3,
      maxSampleRows: Long = 2048, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(falsePairRate > 0 && falsePairRate < 1,
      s"falsePairRate must be in (0, 1): got $falsePairRate")
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nAll = base.count()
    // eager checkpoint: the sample is consumed by both self-join sides —
    // and it is the job's entire input, so no unpersist bookkeeping
    val sample =
      (if (maxSampleRows > 0 && nAll > maxSampleRows)
        hashSample(base, "id", nAll, maxSampleRows)
      else base).localCheckpoint(true)
    val nS = sample.count()
    val nPairs = nS * (nS - 1) / 2
    val k = math.max(1L, math.ceil(falsePairRate * nPairs).toLong)
    require(k <= (1L << 22),
      s"k = $k order-statistic rows would collect to one partition — " +
        "lower falsePairRate or maxSampleRows")
    val cosP = sample.select(col("id").as("ia"), col("v").as("va"))
      .join(broadcast(sample.select(col("id").as("ib"), col("v").as("vb"))),
        col("ia") < col("ib"))
      .select(round(cosine(col("va"), col("vb")), 6).as("cos"))
    cosP.orderBy(col("cos").desc).limit(k.toInt)
      .agg(min(col("cos")).as("threshold"))
      .select(lit(nS).as("n_sampled"), lit(nPairs).as("n_pairs"),
        lit(k).as("k"), col("threshold"))
  }

  // --------------------------------------------------- product quantization
  //
  // PQ is the memory/IO lever the int8 path (q_embed_quantize) can't reach:
  // int8 shrinks 4×; PQ with m=8 subspaces shrinks a 64-dim float32 vector
  // 32× (8 code bytes), and candidates are scored from the CODES via a
  // per-probe lookup table (ADC) — m table reads per candidate instead of a
  // d-wide dot. At 100 TB that converts the ANN scan from bandwidth-bound
  // over raw vectors to scanning a few TB of codes; exact reranking then
  // fetches raw vectors for only the top-r survivors per probe.
  // Kernels/expressions live in graft.functions.VectorFunctions (codegen'd,
  // codebook shipped once as a reference object).

  /**
   * Train per-subspace k-means codebooks (m × ksub × dsub), deterministic
   * and driver-bounded like [[ivfTrainKmeans]]:
   *
   *  - init: ONE bounded job — the first `ksub` corpus vectors by
   *    xxhash64(id) seed ALL m subspaces at once (their normalized
   *    subvector slices); no per-cell driver round-trips (m×ksub of them
   *    would dominate wall time at any scale);
   *  - Lloyd rounds: each is ONE job — encode with the current codebook
   *    (codegen'd pq_encode_ints), explode to (subspace, code, pos, val)
   *    and average; only m×ksub×dsub cells ever reach the driver (the
   *    model itself). Subquantizer means are PLAIN averages of normalized-
   *    vector slices (subvectors are not unit-norm, so the spherical
   *    update is wrong here); cells that collect no members keep their
   *    previous centroid; averages snap to a 1e-6 grid so the trained
   *    model is stable under any partitioning.
   *
   * At 100 TB run this over a sample — every round prices by the training
   * frame, and the codebook is m×ksub×dsub floats regardless of corpus size.
   */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxTrainRows: Long = 0): Seq[Seq[Seq[Float]]] =
    withTrainSample(corpus, idCol, vecCol, maxTrainRows)(
      pqTrainOn(_, m, ksub, iters, idCol, vecCol))

  /** Shared `maxTrainRows` plumbing for the PQ trainers: bound the
   *  training frame to a persisted deterministic hash-sample (see
   *  [[hashSample]]); `maxTrainRows <= 0` trains on the full frame. */
  private def withTrainSample(corpus: DataFrame, idCol: String, vecCol: String,
      maxTrainRows: Long)(train: DataFrame => Seq[Seq[Seq[Float]]]): Seq[Seq[Seq[Float]]] = {
    val base = corpus.select(col(idCol), col(vecCol))
    if (maxTrainRows > 0) {
      val n = base.count()
      if (n > maxTrainRows) {
        val s = hashSample(base, idCol, n, maxTrainRows)
          .persist(StorageLevel.MEMORY_AND_DISK_SER)
        try return train(s)
        finally s.unpersist(blocking = false)
      }
    }
    train(base)
  }

  private def pqTrainOn(corpus: DataFrame, m: Int, ksub: Int, iters: Int,
      idCol: String, vecCol: String): Seq[Seq[Seq[Float]]] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(idCol)))
      .limit(ksub)
      .collect() // bounded: ksub rows, the init sample
      .map(_.getSeq[Float](1))
    require(sample.nonEmpty, "pqTrain: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    def normalized(v: Seq[Float]): Array[Float] = {
      val nrm = math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x)).toFloat
      if (nrm == 0f) v.toArray else v.map(_ / nrm).toArray
    }
    // fewer rows than ksub: cycle the sample — duplicate centroids just
    // leave some cells empty (ties encode to the lowest index)
    var cb: Seq[Seq[Seq[Float]]] = (0 until m).map { j =>
      (0 until ksub).map { c =>
        normalized(sample(c % sample.length)).slice(j * dsub, (j + 1) * dsub).toSeq
      }
    }
    val grid = 1e6
    for (_ <- 0 until iters) {
      // lesson: bind the normalized array via a projection BEFORE slicing in
      // lambdas — a non-cheap expression referenced per-element re-runs per
      // element (the round-12 O(tokens²) trap)
      val vn = corpus.select(col(vecCol).as("_v"))
        .filter(col("_v").isNotNull)
        .withColumn("_nrm", norm(col("_v")))
        .select(when(col("_nrm") > 0,
            transform(col("_v"), x => x.cast("double") / col("_nrm")))
          .otherwise(transform(col("_v"), x => lit(0.0))).as("_vn"),
          graft.functions.VectorFunctions.pq_encode_ints(col("_v"), cb).as("_codes"))
      val cells = vn
        .select(posexplode(col("_codes")).as(Seq("j", "code")), col("_vn"))
        .select(col("j"), col("code"),
          posexplode(slice(col("_vn"), col("j") * dsub + 1, lit(dsub)))
            .as(Seq("pos", "v")))
        .groupBy("j", "code", "pos").agg(avg(col("v")).as("mean"))
        .collect() // bounded: m x ksub x dsub cells, the model itself
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = cb.zipWithIndex.map { case (sub, j) =>
        sub.zipWithIndex.map { case (old, c) =>
          cells.get((j, c)).fold(old) { rows =>
            val arr = old.toArray
            rows.foreach(r =>
              arr(r.getInt(2)) = (math.rint(r.getDouble(3) * grid) / grid).toFloat)
            arr.toSeq
          }
        }
      }
    }
    cb
  }

  /**
   * [[pqTrain]]'s RESIDUAL twin — the FAISS-style IVF-PQ training step:
   * subquantizers learn the distribution of `normalized(v) − centroid[list]`
   * (the offset from each vector's coarse IVF centroid) instead of the raw
   * vectors. Within-cell residual variance is far below global variance, so
   * the same m×ksub budget quantizes much finer and ADC-only ranking
   * improves — measured on the unclustered-gaussian worst case in
   * SketchSpec. Same job shape as [[pqTrain]]: one bounded init collect
   * (ksub residual rows), then `iters` one-job Lloyd rounds; residuals are
   * NOT re-normalized anywhere (encode, train and scoring all agree on the
   * raw residual geometry, `pq_encode(…, normalize = false)`).
   *
   * Pass the table's IVF `centroids` — codes trained here are only valid
   * against that codebook (persist with
   * `pqWriteModel(…, residual = true)` / `ivfWriteAtRest(pqResidual = true)`
   * so probes pick the residual scoring convention automatically).
   */
  def pqTrainResidual(corpus: DataFrame, centroids: Seq[Seq[Float]],
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxTrainRows: Long = 0): Seq[Seq[Seq[Float]]] =
    withTrainSample(corpus, idCol, vecCol, maxTrainRows)(
      pqTrainResidualOn(_, centroids, m, ksub, iters, idCol, vecCol))

  private def pqTrainResidualOn(corpus: DataFrame, centroids: Seq[Seq[Float]],
      m: Int, ksub: Int, iters: Int,
      idCol: String, vecCol: String): Seq[Seq[Seq[Float]]] = {
    val dim = centroids.head.length
    require(dim % m == 0, s"pqTrainResidual: dim $dim must split into m=$m subspaces")
    val dsub = dim / m
    val res = ivfAssign(corpus.filter(col(vecCol).isNotNull), centroids, vecCol)
      .select(col(idCol),
        graft.functions.VectorFunctions.ivf_residual(
          col(vecCol), col("list_id"), centroids).as("_r"))
    val sample = res.orderBy(xxhash64(col(idCol))).limit(ksub)
      .collect() // bounded: ksub rows, the init sample
      .map(_.getSeq[Double](1))
    require(sample.nonEmpty, "pqTrainResidual: empty corpus")
    // fewer rows than ksub: cycle the sample (same convention as pqTrain)
    var cb: Seq[Seq[Seq[Float]]] = (0 until m).map { j =>
      (0 until ksub).map { c =>
        sample(c % sample.length).slice(j * dsub, (j + 1) * dsub)
          .map(_.toFloat).toSeq
      }
    }
    val grid = 1e6
    for (_ <- 0 until iters) {
      val vn = res.select(col("_r").as("_vn"),
        graft.functions.VectorFunctions.pq_encode_ints(
          col("_r"), cb, normalize = false).as("_codes"))
      val cells = vn
        .select(posexplode(col("_codes")).as(Seq("j", "code")), col("_vn"))
        .select(col("j"), col("code"),
          posexplode(slice(col("_vn"), col("j") * dsub + 1, lit(dsub)))
            .as(Seq("pos", "v")))
        .groupBy("j", "code", "pos").agg(avg(col("v")).as("mean"))
        .collect() // bounded: m x ksub x dsub cells, the model itself
        .groupBy(r => (r.getInt(0), r.getInt(1)))
      cb = cb.zipWithIndex.map { case (sub, j) =>
        sub.zipWithIndex.map { case (old, c) =>
          cells.get((j, c)).fold(old) { rows =>
            val arr = old.toArray
            rows.foreach(r =>
              arr(r.getInt(2)) = (math.rint(r.getDouble(3) * grid) / grid).toFloat)
            arr.toSeq
          }
        }
      }
    }
    cb
  }

  private def pqModelFile(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_pq_codebook/model.txt")

  /** Persist a trained PQ model (same exact-roundtrip float-bits text
   *  format as the IVF codebook sidecar): header `m ksub dsub`, then one
   *  line per (subspace, centroid). A RESIDUAL model (trained by
   *  [[pqTrainResidual]] over `normalized(v) − centroid[list]`) appends a
   *  `residual` token to the header — the flag travels WITH the model, so
   *  every probe/append/rewrite path picks the matching encode/score
   *  convention and a residual model can never be silently scored as a
   *  raw one (the two conventions produce disjoint code semantics). */
  def pqWriteModel(spark: org.apache.spark.sql.SparkSession, dir: String,
      cb: Seq[Seq[Seq[Float]]], residual: Boolean = false): Unit = {
    val m = cb.length
    val ksub = cb.head.length
    val dsub = cb.head.head.length
    val flag = if (residual) " residual" else ""
    val body = s"$m $ksub $dsub$flag\n" + cb.flatMap(_.map(
      _.map(java.lang.Float.floatToIntBits).mkString(" "))).mkString("\n")
    AtRest.writeFile(AtRest.fsFor(spark, dir), pqModelFile(dir),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** The PQ model persisted with the table's CURRENT version, if the
   *  table is IVF-PQ encoded; None on plain IVF tables. */
  def ivfPqModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Seq[Seq[Seq[Float]]]] = {
    val dir = AtRest.resolve(spark, path)
    if (AtRest.fsFor(spark, dir).exists(pqModelFile(dir)))
      Some(pqReadModel(spark, dir))
    else None
  }

  /** Whether the table's persisted PQ model (if any) is RESIDUAL-encoded. */
  private def ivfPqResidualOf(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val dir = AtRest.resolve(spark, path)
    AtRest.fsFor(spark, dir).exists(pqModelFile(dir)) && pqModelResidual(spark, dir)
  }

  /** Residual encode: each (already-assigned) row's code quantizes
   *  `normalized(v) − centroid[list_id]` — a multi-assigned vector gets a
   *  DIFFERENT code per replica (the residual to each list it lives in),
   *  which is exactly what its per-list ADC scoring needs. */
  private def pqEncodeResidual(df: DataFrame, centroids: Seq[Seq[Float]],
      codebook: Seq[Seq[Seq[Float]]], vecCol: String,
      outCol: String = "pq_code"): DataFrame =
    df.withColumn(outCol,
      graft.functions.VectorFunctions.pq_encode(
        graft.functions.VectorFunctions.ivf_residual(
          col(vecCol), col("list_id"), centroids),
        codebook, normalize = false))

  /** Every write path of a PQ-encoded table MUST encode — one un-encoded
   *  batch directory would drift the table schema, and a parquet read
   *  without mergeSchema silently samples one file's schema (the same
   *  failure class the corpus ingest guards against). Residual tables
   *  encode against the persisted IVF codebook (rows are assigned by the
   *  time any write path reaches here, so `list_id` is present). */
  private def withPqCodes(df: DataFrame, spark: org.apache.spark.sql.SparkSession,
      path: String, vecCol: String): DataFrame = {
    val dir = AtRest.resolve(spark, path)
    if (!AtRest.fsFor(spark, dir).exists(pqModelFile(dir))) df
    else {
      // one sidecar read serves both the model and its residual flag —
      // the append/ingest hot path must not parse the m×ksub×dsub file twice
      val (model, residual) = pqReadModelInfo(spark, dir)
      if (residual) pqEncodeResidual(df, storedCodebook(spark, path), model, vecCol)
      else pqEncode(df, model, vecCol)
    }
  }

  def pqReadModel(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Seq[Seq[Float]]] = pqReadModelInfo(spark, dir)._1

  /** Whether the PQ model persisted at `dir` encodes RESIDUALS (see
   *  [[pqWriteModel]]); false for raw models and pre-flag files. */
  def pqModelResidual(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = pqReadModelInfo(spark, dir)._2

  private def pqReadModelInfo(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Seq[Seq[Seq[Float]]], Boolean) = {
    val fs = AtRest.fsFor(spark, dir)
    val f = pqModelFile(dir)
    if (!fs.exists(f))
      throw new IllegalStateException(s"no PQ model at $f — train with " +
        "Similarity.pqTrain and persist with pqWriteModel first")
    val lines = new String(AtRest.readFile(fs, f),
      java.nio.charset.StandardCharsets.UTF_8).trim.linesIterator.toSeq
    val header = lines.head.split(" ")
    val Array(m, ksub, dsub) = header.take(3).map(_.toInt)
    val residual = header.lift(3).contains("residual")
    val cents = lines.tail.map(_.split(" ")
      .map(s => java.lang.Float.intBitsToFloat(s.toInt)).toSeq)
    require(cents.length == m * ksub && cents.forall(_.length == dsub),
      s"corrupt PQ model at $f: expected $m x $ksub centroids of $dsub dims")
    ((0 until m).map(j => cents.slice(j * ksub, (j + 1) * ksub)), residual)
  }

  /** Corpus with its `m`-byte PQ code column — what a 100 TB pipeline
   *  persists (optionally beside/instead of the raw vectors) so ANN scans
   *  read codes, not embeddings. */
  def pqEncode(df: DataFrame, codebook: Seq[Seq[Seq[Float]]],
      vecCol: String = "embedding", outCol: String = "pq_code"): DataFrame =
    df.withColumn(outCol,
      graft.functions.VectorFunctions.pq_encode(col(vecCol), codebook))

  /**
   * ADC top-k with optional exact rerank — the production two-stage shape:
   *
   *  1. every candidate scored from its CODE against the probe's lookup
   *     table (built once per probe row, broadcast with it); the corpus
   *     side touches only (id, code) — at rest that is a column-pruned
   *     scan of m bytes/vector;
   *  2. `rerank > 0`: the top-`rerank` ADC survivors per probe fetch raw
   *     vectors (a semi-join-sized fetch, not a corpus scan) and the final
   *     top-k ranks by EXACT cosine — returned scores are exact, ADC only
   *     decided which ~r of N vectors were worth reading.
   *
   * `rerank = 0` ranks by the ADC approximation itself (column `adc`);
   * with rerank the output matches [[bruteForceTopK]]'s schema (`cosine`).
   */
  def pqTopK(corpus: DataFrame, probes: DataFrame, codebook: Seq[Seq[Seq[Float]]],
      k: Int, rerank: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val codes = pqEncode(corpus.select(col(idCol), col(vecCol)), codebook, vecCol)
      .select(col(idCol), col("pq_code"))
    val pl = probes.withColumn("_lut",
      graft.functions.VectorFunctions.pq_lut(col("probe_vec"), codebook))
    val scored = codes.join(broadcast(pl), col("probe_id") =!= col(idCol))
      .withColumn("_adc",
        graft.functions.VectorFunctions.pq_adc(col("pq_code"), col("_lut")))
    val w = Window.partitionBy("probe_id").orderBy(col("_adc").desc, col(idCol))
    if (rerank <= 0) {
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col(idCol).as("neighbor_id"),
          round(col("_adc"), 6).as("adc"), col("rank"))
        .orderBy("probe_id", "rank")
    } else {
      val r = math.max(k, rerank)
      val cand = scored.withColumn("_ar", row_number().over(w))
        .filter(col("_ar") <= r)
        .select(col("probe_id"), col("probe_vec"), col(idCol))
      // candidate fetch: |probes|×r rows broadcast against the corpus —
      // the raw-vector read stays candidate-sized, never a corpus shuffle
      val exact = corpus.select(col(idCol), col(vecCol))
        .join(broadcast(cand), idCol)
        .withColumn("cos", cosine(col("probe_vec"), col(vecCol)))
      val we = Window.partitionBy("probe_id").orderBy(col("cos").desc, col(idCol))
      exact.withColumn("rank", row_number().over(we))
        .filter(col("rank") <= k)
        .select(col("probe_id"), col(idCol).as("neighbor_id"),
          round(col("cos"), 6).as("cosine"), col("rank"))
        .orderBy("probe_id", "rank")
    }
  }
}
