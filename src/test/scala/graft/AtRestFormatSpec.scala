package graft

import org.apache.hadoop.fs.Path

import graft.operators.{AtRest, DedupIndex, Similarity}

/** The at-rest tables read exactly one on-disk format: `_current` ->
 *  `_v<N>/` holding a `_meta.json` stamped `format`. One older shape per
 *  table kind, each fed to that kind's first entry point, must fail with
 *  the typed [[AtRest.UnsupportedTableFormat]] naming the root and both
 *  formats — never be read, migrated or silently treated as empty. */
class AtRestFormatSpec extends SparkSpec {

  private def at(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat)
  }
  private val cents = Seq(at(0).toSeq, at(90).toSeq)

  /** Bare `list_id=` dirs at the root: the pre-versioning IVF layout. */
  private def flatIvf(dir: String): Unit = {
    import spark.implicits._
    Similarity.ivfAssign(
      Seq((1L, at(9)), (2L, at(170))).toDF("vec_id", "embedding"), cents)
      .write.partitionBy("list_id").parquet(dir)
  }

  private def newVecs = {
    import spark.implicits._
    Seq((3L, at(45))).toDF("vec_id", "embedding")
  }

  private def newDocs = {
    import spark.implicits._
    Seq((2L, "some new doc four five six")).toDF("doc_id", "text")
  }

  /** (case, root under a fresh temp dir -> the table root, old shape
   *  builder, the kind's first entry point) */
  private val cases: Seq[(String, String => Unit, String => Unit)] = Seq(
    ("a flat corpus (plain parquet at the root) for ingestBatch",
      corp => {
        import spark.implicits._
        Seq((1L, "legacy doc one two three")).toDF("doc_id", "text")
          .write.parquet(corp)
      },
      corp => DedupIndex.ingestBatch(newDocs, corp + "_index", corp, batchId = 0L)),
    ("a flat bucket_part= index for ingestBatch",
      idx => {
        import spark.implicits._
        Seq((0L, 0, 7L, 1L)).toDF("bucket_part", "band", "bucket", "id")
          .write.partitionBy("bucket_part").parquet(idx)
      },
      idx => DedupIndex.ingestBatch(newDocs, idx, idx + "_corpus", batchId = 0L)),
    ("bare list_id= IVF dirs for ivfIngestBatch",
      flatIvf,
      dir => Similarity.ivfIngestBatch(newVecs, cents, dir, threshold = 0.95,
        nProbe = 1, batchId = 0L)),
    ("bare list_id= IVF dirs for ivfRecheckSince",
      flatIvf,
      dir => Similarity.ivfRecheckSince(spark, dir, sinceBatch = 5L,
        recheckId = 0L, threshold = 0.95)),
    ("a _current root whose meta lacks format for readCorpus",
      corp => {
        DedupIndex.writeCorpus(newDocs, corp)
        val live = new Path(AtRest.resolve(spark, corp), "_meta.json")
        AtRest.writeFile(AtRest.fsFor(spark, corp), live,
          """{"corpusParts": "16", "idCol": "doc_id", "kind": "dedup_corpus"}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      },
      corp => DedupIndex.readCorpus(spark, corp)))

  cases.foreach { case (name, build, entry) =>
    test(s"UnsupportedTableFormat: $name") {
      val root = tempDir("atrest_format") + "/table"
      build(root)
      val e = intercept[AtRest.UnsupportedTableFormat](entry(root))
      assert(e.isInstanceOf[IllegalStateException])
      assert(e.getMessage.contains(root) &&
        e.getMessage.contains(s"expected format ${AtRest.Format}"), e.getMessage)
    }
  }

  test("every written _meta.json carries the format stamp") {
    val corp = tempDir("atrest_stamp") + "/corpus"
    DedupIndex.writeCorpus(newDocs, corp)
    val fs = AtRest.fsFor(spark, corp)
    val raw = new String(AtRest.readFile(fs,
      new Path(AtRest.resolve(spark, corp), "_meta.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(raw.contains(s""""format": "${AtRest.Format}""""), raw)
    // the stamp is the envelope, not a table parameter
    assert(!AtRest.readMeta(spark, corp).get.contains("format"))
  }
}
