package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AtRest, Similarity}
import graft.queries.Tables

/**
 * Persisted LSH signatures (r17): each vector signs ONCE at seed/ingest,
 * the signature columns ride at rest beside pq_code under a meta-recorded
 * scheme (lshPlanes/lshTables), every maintenance rewrite carries them,
 * and the recheck's pair search JOINS them instead of re-signing the
 * table per pass — the change that makes the incremental vector recheck
 * batch-proportional (the r16 decade bench measured the re-signing path
 * at 4.25× wall for 10× data on a fixed window). Scheme changes are
 * loud: an incremental window refuses a mismatched scheme, a full sweep
 * re-signs + meta-records, and [[Similarity.ivfResign]] is the explicit
 * migration.
 */
class LshPersistSpec extends SparkSpec {

  lazy val emb: DataFrame = Tables.t(spark, sf, "embeddings")

  private def scheme(path: String): Option[(Int, Int)] =
    Similarity.lshSchemeOf(spark, path)

  /** Rows whose persisted signatures differ from a fresh recompute of
   *  sign_lsh over the row's own vector — must be 0 on a signed table. */
  private def sigMismatches(table: DataFrame, p: Int, t: Int,
      vecCol: String = "embedding"): Long =
    table.withColumn("_exp", array((0 until t).map(tt =>
        Similarity.lshSignature(col(vecCol), p, tt * p).cast("int")): _*))
      .filter(not(col(Similarity.LshSigCol) <=> col("_exp"))).count()

  private def at(deg: Double): Seq[Float] = {
    val r = math.toRadians(deg)
    Seq(math.cos(r).toFloat, math.sin(r).toFloat)
  }

  test("seed signs at the auto-sized scheme; values recompute exactly") {
    val dir = tempDir("lsh_seed") + "/corpus"
    Similarity.ivfWriteAtRest(emb, Similarity.ivfCodebook(emb), dir)
    val (p, t) = scheme(dir).getOrElse(fail("seed did not record a scheme"))
    assert(p == Similarity.autoLshPlanes(emb.count()))
    assert(t == Similarity.autoLshTables(p))
    val table = Similarity.ivfRead(spark, dir)
    assert(table.columns.contains(Similarity.LshSigCol))
    assert(sigMismatches(table, p, t) == 0)
  }

  test("signatures survive ingest, compact, retrain and enablePq; " +
      "appends sign under the recorded scheme") {
    val dir = tempDir("lsh_carry") + "/corpus"
    val cb = Similarity.ivfCodebook(emb, nLists = 4)
    Similarity.ivfWriteAtRest(emb, cb, dir)
    val (p, t) = scheme(dir).get
    // exactly-once ingest signs arrivals
    val novel = emb.limit(20)
      .select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.7f) + lit(0.3f))
          .as("embedding"))
    Similarity.ivfIngestBatch(novel, cb, dir, threshold = 0.9999, batchId = 0L)
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0,
      "ingested rows must carry recomputable signatures")
    // ad-hoc append signs too
    Similarity.ivfAppendAtRest(novel
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")), cb, dir)
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0)
    // compact carries (pure rewrite)
    Similarity.ivfCompactAtRest(spark, dir)
    assert(scheme(dir) == Some((p, t)))
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0)
    // retrain carries (vectors unchanged, only assignments move)
    Similarity.ivfRetrain(spark, dir, nLists = 4, iters = 1, maxTrainRows = 64)
    assert(scheme(dir) == Some((p, t)))
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0)
    // enablePq carries
    Similarity.ivfEnablePq(spark, dir,
      Similarity.pqTrain(emb, m = 8, ksub = 16, iters = 2),
      skipConventionCheck = true)
    assert(scheme(dir) == Some((p, t)))
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0)
  }

  test("incremental recheck: drop set from the persisted-signature path " +
      "is identical to the in-flight re-signing path") {
    def build(root: String, signed: Boolean): String = {
      val dir = root + "/corpus"
      val seed = emb.select("vec_id", "embedding")
      Similarity.ivfWriteAtRest(seed, Similarity.ivfCodebook(emb), dir,
        lshPlanes = if (signed) 0 else -1)
      // batch 0: exact copies of ids < 10 (cosine 1.0 — found under ANY
      // scheme) planted past the admission check
      Similarity.ivfIngestBatch(
        emb.filter(col("vec_id") < 10)
          .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding")),
        Similarity.ivfCodebook(emb), dir, threshold = 1.1, batchId = 0L)
      dir
    }
    val signedDir = build(tempDir("lsh_eq_signed"), signed = true)
    val unsignedDir = build(tempDir("lsh_eq_unsigned"), signed = false)
    assert(scheme(signedDir).isDefined)
    assert(scheme(unsignedDir).isEmpty)
    assert(!Similarity.ivfRead(spark, unsignedDir).columns
      .contains(Similarity.LshSigCol))
    def drops(dir: String): Set[Long] = {
      val before = Similarity.ivfRead(spark, dir).select("vec_id")
        .distinct().collect().map(_.getLong(0)).toSet
      val n = Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.98)
      val after = Similarity.ivfRead(spark, dir).select("vec_id")
        .distinct().collect().map(_.getLong(0)).toSet
      assert(n == (before -- after).size)
      before -- after
    }
    val a = drops(signedDir)
    val b = drops(unsignedDir)
    assert(a == b, s"persisted-path drops $a != re-signing-path drops $b")
    assert(a == (0L until 10L).map(_ + 5000000L).toSet,
      "each planted copy's larger id must drop")
  }

  test("scheme changes are loud: an incremental window refuses a " +
      "mismatched scheme; a full sweep re-signs and meta-records") {
    val dir = tempDir("lsh_loud") + "/corpus"
    Similarity.ivfWriteAtRest(emb, Similarity.ivfCodebook(emb), dir)
    val (p, t) = scheme(dir).get
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfRecheckSince(spark, dir, sinceBatch = 0L, recheckId = 0L,
        threshold = 0.98, planesPerTable = p + 3)
    }
    assert(ex.getMessage.contains("re-sign"))
    // the full sweep at the new scheme rewrites EVEN WITH ZERO DROPS —
    // the re-sign is the point — and records the new scheme
    val verBefore = AtRest.resolve(spark, dir)
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.98,
      planesPerTable = p + 3, tables = t + 1) == 0)
    assert(AtRest.resolve(spark, dir) != verBefore,
      "a re-signing sweep must publish a new version")
    assert(scheme(dir) == Some((p + 3, t + 1)))
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p + 3, t + 1) == 0)
    // and the recorded scheme is enforced again at the new values
    intercept[IllegalArgumentException] {
      Similarity.ivfRecheckSince(spark, dir, sinceBatch = 0L, recheckId = 1L,
        threshold = 0.98, planesPerTable = p)
    }
  }

  test("a table that outgrows its recorded scheme auto-upgrades on the " +
      "next FULL sweep — zero caller knobs") {
    val dir = tempDir("lsh_outgrow") + "/corpus"
    // 600 synthetic 8-dim vectors, seeded at a pinned-too-small scheme
    val vecs = spark.range(0, 600).select(col("id").as("vec_id"),
      array((0 until 8).map(i =>
        ((pmod(xxhash64(col("id"), lit(i)), lit(1000)).cast("double")
          / lit(500.0)) - lit(1.0)).cast("float")): _*).as("embedding"))
    Similarity.ivfWriteAtRest(vecs,
      Similarity.ivfCodebook(vecs, nLists = 4), dir, lshPlanes = 8)
    assert(scheme(dir) == Some((8, Similarity.autoLshTables(8))))
    val want = Similarity.autoLshPlanes(600)
    assert(want > 8 + 1, "test premise: 600 ids must outgrow 8 planes")
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.999) == 0)
    assert(scheme(dir) == Some((want, Similarity.autoLshTables(want))),
      "the full sweep must re-sign at the auto-sized scheme")
    assert(sigMismatches(Similarity.ivfRead(spark, dir), want,
      Similarity.autoLshTables(want)) == 0)
    // incremental windows never upgrade (they can't rewrite the table)
    Similarity.ivfRecheckIncremental(spark, dir, threshold = 0.999)
    assert(scheme(dir) == Some((want, Similarity.autoLshTables(want))))
  }

  test("ivfResign migrates an unsigned table; the scheme is then enforced") {
    val dir = tempDir("lsh_resign") + "/corpus"
    Similarity.ivfWriteAtRest(emb, Similarity.ivfCodebook(emb), dir,
      lshPlanes = -1)
    assert(scheme(dir).isEmpty)
    val (p, t) = Similarity.ivfResign(spark, dir)
    assert(scheme(dir) == Some((p, t)))
    assert(p == Similarity.autoLshPlanes(emb.count()))
    assert(sigMismatches(Similarity.ivfRead(spark, dir), p, t) == 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfRecheckSince(spark, dir, sinceBatch = 0L, recheckId = 0L,
        threshold = 0.98, planesPerTable = p + 1)
    }
  }

  test("codes-only retrain preserves admission multiplicity: a twice-" +
      "admitted id keeps both admissions' rows and the ledger stays exact") {
    val root = tempDir("lsh_readmit_codes")
    val dir = root + "/corpus"
    val store = root + "/store.parquet"
    import spark.implicits._
    val cents = Seq(at(0), at(90))
    val pq = Similarity.pqTrain(
      Seq((1L, at(0).toArray), (2L, at(30).toArray), (3L, at(60).toArray),
        (4L, at(90).toArray), (5L, at(120).toArray))
        .toDF("vec_id", "embedding"),
      m = 2, ksub = 4, iters = 2)
    Seq((5L, at(0).toArray, "s0")).toDF("vec_id", "embedding", "source")
      .write.mode("overwrite").parquet(store)
    Similarity.ivfWriteAtRest(
      Seq((5L, at(0).toArray, "s0")).toDF("vec_id", "embedding", "source"),
      cents, dir, ledgerBy = "source", pqModel = pq, codesOnly = true,
      skipConventionCheck = true)
    // id 100 admitted TWICE (update-style re-ingest, threshold 1.1 so the
    // admission check cannot trip): two admissions, two physical rows,
    // n_vecs counted 2 — the store holds the LATEST vector only
    def admit(deg: Double, batch: Long): Unit = {
      val b = Seq((100L, at(deg).toArray, "s0"))
        .toDF("vec_id", "embedding", "source")
      b.select("vec_id", "embedding").write.mode("append").parquet(store)
      assert(Similarity.ivfIngestBatch(b, cents, dir, threshold = 1.1,
        batchId = batch,
        rerankFrom = spark.read.parquet(store)
          .orderBy(col("vec_id")).dropDuplicates("vec_id")) == 1)
    }
    admit(8.1, 0L)
    admit(-8.1, 1L)
    // the store's current view: one vector per id (the latest write wins
    // via a deterministic pick here — an id-addressable KV in production)
    val latest = Seq((5L, at(0).toArray), (100L, at(-8.1).toArray))
      .toDF("vec_id", "embedding")
    assert(Similarity.ivfRead(spark, dir).count() == 3)
    // RETRAIN must NOT collapse the two same-payload admissions of id 100
    Similarity.ivfRetrain(spark, dir, nLists = 2, iters = 1,
      rerankFrom = latest)
    val rows = Similarity.ivfRead(spark, dir).count()
    assert(rows == 3,
      s"retrain collapsed admission multiplicity: $rows rows, expected 3")
    val card0 = Similarity.ivfLedgerCard(spark, dir).collect().head
    assert(card0.getAs[Long]("n_vecs") == 3)
    // recheck drops id 100 (pair with the seed at cos ≈ 0.990) and the
    // ledger subtracts BOTH admissions — card ≡ table afterwards
    assert(Similarity.ivfRecheck(spark, dir, threshold = 0.98,
      rerankFrom = latest) == 1)
    val card = Similarity.ivfLedgerCard(spark, dir).collect().head
    val rowsAfter = Similarity.ivfRead(spark, dir).count()
    assert(rowsAfter == 1)
    assert(card.getAs[Long]("n_vecs") == rowsAfter,
      s"n_vecs=${card.getAs[Long]("n_vecs")} rows=$rowsAfter")
    assert(card.getAs[Long]("n_removed_recheck") == 2)
  }

  test("a broken row-multiplicity invariant fails the recheck's ledger " +
      "subtraction LOUDLY instead of silently flooring") {
    val root = tempDir("lsh_divisibility")
    val dir = root + "/corpus"
    import spark.implicits._
    val cents = Seq(at(0), at(90))
    // replicas = 2 over 2 lists: every admission writes exactly 2 rows
    Similarity.ivfWriteAtRest(
      Seq((1L, at(0).toArray, "s0"), (2L, at(170).toArray, "s0"))
        .toDF("vec_id", "embedding", "source"),
      cents, dir, ledgerBy = "source", replicas = 2)
    assert(Similarity.ivfIngestBatch(
      Seq((100L, at(2).toArray, "s0")).toDF("vec_id", "embedding", "source"),
      cents, dir, threshold = 1.1, batchId = 0L) == 1)
    // corrupt: plant ONE extra physical row for id 100 (3 rows ≠ k × 2)
    val batchDir = AtRest.resolve(spark, dir) + "/ingest_batch=0"
    val one = spark.read.parquet(batchDir).filter(col("vec_id") === 100L)
      .limit(1).localCheckpoint(true)
    one.write.partitionBy("list_id").mode("append").parquet(batchDir)
    // recheck pairs (1, 100) at cos(2°) ≈ 0.9994 and would drop id 100 —
    // whose 3 rows are NOT divisible by replicas=2: loud, not floored
    val ex = interceptQuietly[Throwable] {
      Similarity.ivfRecheck(spark, dir, threshold = 0.98)
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(ex).contains("not divisible by replicas"),
      s"expected the divisibility assertion, got: ${messages(ex).take(500)}")
  }
}
