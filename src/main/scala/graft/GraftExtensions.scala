package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.DoubleType

import graft.functions.{GeoFunctions, TextFunctions, TextKernels, VectorFunctions}

/**
 * Session extension injecting every graft function into the session's
 * FunctionRegistry at build time, so a user needs only
 *
 * {{{
 *   SparkSession.builder()
 *     .config("spark.sql.extensions", "graft.GraftExtensions")
 * }}}
 *
 * and `SELECT bbox_intersects(bbox, ...)`, `vec_cosine(a, b)`,
 * `sign_lsh(v, 16, 0)`, `minhash_signature(sh, 32)` work in plain SQL —
 * no per-session register() calls (the per-query `GeoFunctions.register`
 * path still exists for sessions built without extensions).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("bbox_intersects"),
      info("bbox_intersects", "bbox_intersects(wkt, minx, miny, maxx, maxy) - envelope intersection"),
      (es: Seq[Expression]) => {
        VectorFunctions.expectArity(es, 5, "bbox_intersects(wkt, minx, miny, maxx, maxy)")
        GeoFunctions.BboxIntersects(es.head +: es.tail.map(e => Cast(e, DoubleType)))
      }))
    ext.injectFunction((FunctionIdentifier("bbox_envelope"),
      info("bbox_envelope", "bbox_envelope(wkt) - struct<minx,miny,maxx,maxy>"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 1, "bbox_envelope(wkt)")
        GeoFunctions.BboxEnvelope(es.head) }))
    ext.injectFunction((FunctionIdentifier("bbox_extent"),
      info("bbox_extent", "bbox_extent(wkt) - aggregate union envelope of a group"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 1, "bbox_extent(wkt)")
        GeoFunctions.BboxExtent(es.head) }))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two vectors"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "vec_cosine(a, b)")
        VectorFunctions.VectorCosine(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - dot product of two vectors"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "vec_dot(a, b)")
        VectorFunctions.VectorDot(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("sign_lsh"),
      info("sign_lsh", "sign_lsh(vec, planes, offset) - sign-LSH bucket key"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 3, "sign_lsh(vec, planes, offset)")
        VectorFunctions.SignLshSignature(es(0),
          VectorFunctions.litIntArg(es(1), "planes"), VectorFunctions.litIntArg(es(2), "offset")) }))
    ext.injectFunction((FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(shingles, k) - minhash array"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "minhash_signature(shingles, numHashes)")
        VectorFunctions.MinHashSignature(es(0),
          VectorFunctions.litIntArg(es(1), "numHashes")) }))
    ext.injectFunction((FunctionIdentifier("pq_encode"),
      info("pq_encode", "pq_encode(vec, codebook[, normalize]) - m-byte product-quantization code"),
      (es: Seq[Expression]) => {
        require(es.length == 2 || es.length == 3,
          s"pq_encode(vec, codebook[, normalize]) takes 2-3 args, got ${es.length}")
        val (cb, m, ksub) = VectorFunctions.foldCodebook(es(1))
        VectorFunctions.PqEncode(es(0), cb, m, ksub, asInts = false,
          normalize = es.lift(2).forall(VectorFunctions.litBoolArg(_, "normalize"))) }))
    ext.injectFunction((FunctionIdentifier("pq_encode_ints"),
      info("pq_encode_ints", "pq_encode_ints(vec, codebook[, normalize]) - PQ code as int array"),
      (es: Seq[Expression]) => {
        require(es.length == 2 || es.length == 3,
          s"pq_encode_ints(vec, codebook[, normalize]) takes 2-3 args, got ${es.length}")
        val (cb, m, ksub) = VectorFunctions.foldCodebook(es(1))
        VectorFunctions.PqEncode(es(0), cb, m, ksub, asInts = true,
          normalize = es.lift(2).forall(VectorFunctions.litBoolArg(_, "normalize"))) }))
    ext.injectFunction((FunctionIdentifier("ivf_residual"),
      info("ivf_residual", "ivf_residual(vec, list_id, centroids) - normalized(vec) minus the list's coarse centroid"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 3, "ivf_residual(vec, list_id, centroids)")
        val (cents, dim) = VectorFunctions.foldCentroids(es(2))
        VectorFunctions.IvfResidual(es(0), es(1), cents, dim) }))
    ext.injectFunction((FunctionIdentifier("pq_lut"),
      info("pq_lut", "pq_lut(probe_vec, codebook) - per-probe ADC lookup table"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "pq_lut(probe_vec, codebook)")
        val (cb, m, ksub) = VectorFunctions.foldCodebook(es(1))
        VectorFunctions.PqLut(es(0), cb, m, ksub) }))
    ext.injectFunction((FunctionIdentifier("pq_adc"),
      info("pq_adc", "pq_adc(code, lut) - ADC similarity from code + lookup table"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "pq_adc(code, lut)")
        VectorFunctions.PqAdc(es(0), es(1)) }))
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash fingerprint"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 1, "simhash64(text)")
        TextKernels.SimHash64(es.head) }))
    ext.injectFunction((FunctionIdentifier("quality_score"),
      info("quality_score", "quality_score(text) - [0,1] quality heuristic"),
      (es: Seq[Expression]) => {
        VectorFunctions.expectArity(es, 1, "quality_score(text)")
        TextKernels.QualityScore(es.head, TextFunctions.StopwordSets.head._2)
      }))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints", "winnow_fingerprints(text, k, w) - winnowing hashes"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 3, "winnow_fingerprints(text, k, w)")
        TextKernels.Winnow(es(0),
          VectorFunctions.litIntArg(es(1), "k"), VectorFunctions.litIntArg(es(2), "w")) }))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(text, n) - distinct word n-gram shingles"),
      (es: Seq[Expression]) => { VectorFunctions.expectArity(es, 2, "word_shingles(text, n)")
        TextKernels.WordShingles(es(0),
          VectorFunctions.litIntArg(es(1), "n")) }))
  }
}
