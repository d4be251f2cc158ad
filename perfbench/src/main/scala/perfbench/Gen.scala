package perfbench

/**
 * Seeded input generators and the answers the benchmark expects, computed
 * from the generators' own records without Spark or Zarr. Every value is a
 * pure function of (seed, index), so Spark tasks can generate rows in
 * parallel and the driver can recompute any of them for checking.
 */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, a: Long, b: Long = 0L): Long = mix(mix(mix(seed) ^ a) ^ b)
  /** Uniform in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  // ------------------------------------------------------------ STAC archive

  /** One archive: `rows` items in `collections` collections of equal size,
   *  clustered by collection, then date. Collection c's footprints stay in
   *  its own 40°×40° region and drift east with time, three passes over
   *  the archive's two years, so per-chunk date ranges and bbox envelopes
   *  are narrow enough to prune. Coordinates are whole 1e-4 degrees. */
  final case class Stac(seed: Long, rows: Int, collections: Int) {
    require(rows % collections == 0, "rows must divide evenly into collections")
    val perCollection: Int = rows / collections
    val t0Ms: Long = 1577836800000L // 2020-01-01T00:00:00Z
    val spanMs: Long = 2L * 365 * 86400000L

    def collection(c: Int): String = f"coll-$c%02d"
    def collectionOf(i: Long): Int = (i / perCollection).toInt
    /** Region origin (west, south) of collection c, in 1e-4 degrees. */
    def regionOrigin(c: Int): (Long, Long) =
      ((-160L + (c % 4) * 80L) * 10000L, (-70L + (c / 4 % 2) * 80L) * 10000L)
    val RegionE4 = 400000L

    def dateMs(i: Long): Long = {
      val j = i % perCollection
      t0Ms + j * spanMs / perCollection + (hash(seed, i, 1) & 0xFFFL)
    }
    /** (minx, miny, maxx, maxy) in 1e-4 degrees. */
    def boxE4(i: Long): Array[Long] = {
      val c = collectionOf(i)
      val (ox, oy) = regionOrigin(c)
      val j = i % perCollection
      val track = (j * 3L * (RegionE4 - 10000L)) / perCollection % (RegionE4 - 10000L)
      val w = 2000L + (hash(seed, i, 2) & 0x1FFFL)
      val h = 2000L + (hash(seed, i, 3) & 0x1FFFL)
      val x0 = ox + track
      val y0 = oy + (unit(hash(seed, i, 4)) * (RegionE4 - h)).toLong
      Array(x0, y0, x0 + w, y0 + h)
    }
    def id(i: Long): Long = 1000000000L + i
    def wkt(i: Long): String = Stac.wkt(boxE4(i))
    /** Raw bytes of the values one row carries (id + date + both strings). */
    def userBytes(i: Long): Long =
      8L + 8L + collection(collectionOf(i)).length + wkt(i).length
  }

  object Stac {
    /** A coordinate in 1e-4 degrees as an exact decimal literal. */
    def e4(v: Long): String = {
      val a = math.abs(v)
      (if (v < 0) "-" else "") + (a / 10000L) + "." + f"${a % 10000L}%04d"
    }
    def wkt(b: Array[Long]): String = {
      val (x0, y0, x1, y1) = (e4(b(0)), e4(b(1)), e4(b(2)), e4(b(3)))
      s"POLYGON (($x0 $y0, $x1 $y0, $x1 $y1, $x0 $y1, $x0 $y0))"
    }
  }

  /** One STAC search: optional collection set, optional inclusive date
   *  range (ms), and a query box in 1e-4 degrees. */
  final case class Search(kind: String, collections: Seq[String],
      dates: Option[(Long, Long)], boxE4: Array[Long]) {
    def box: Array[Double] = boxE4.map(_ / 1e4)
  }

  /** The k-th search of a run, cycling through three selectivity classes:
   *  narrow (one collection, ~one month, a small box), wide (three
   *  collections, a year, one collection's region) and spatial (every
   *  collection, only a small box). Each class returns a similar number
   *  of rows under every seed, so the latency distribution does not hinge
   *  on the seed. */
  def search(a: Stac, k: Long): Search = {
    def r(n: Long): Double = unit(hash(a.seed ^ 0x5EA4C4L, k, n))
    def pick(n: Long, bound: Int): Int = (r(n) * bound).toInt
    val month = a.spanMs / 24
    (k % 3).toInt match {
      case 0 =>
        val c = pick(1, a.collections)
        val j = (r(2) * (a.perCollection - 1)).toLong
        val i = c.toLong * a.perCollection + j
        val mid = a.dateMs(i)
        val b = a.boxE4(i)
        val half = 20000L // 2° either side of a real footprint
        Search("narrow", Seq(a.collection(c)), Some((mid - month / 2, mid + month / 2)),
          Array(b(0) - half, b(1) - half, b(0) + half, b(1) + half))
      case 1 =>
        val cs = new scala.util.Random(hash(a.seed, k, 3))
          .shuffle((0 until a.collections).toList).take(3).sorted
        val lo = a.t0Ms + (r(4) * (a.spanMs / 2)).toLong
        // the region of one chosen collection, 5° wider on each side: it
        // holds that collection's footprints and no other collection's
        val (ox, oy) = a.regionOrigin(cs(pick(5, cs.length)))
        Search("wide", cs.map(a.collection), Some((lo, lo + a.spanMs / 2)),
          Array(ox - 50000L, oy - 50000L, ox + a.RegionE4 + 50000L, oy + a.RegionE4 + 50000L))
      case _ =>
        val c = pick(7, a.collections)
        val (ox, oy) = a.regionOrigin(c)
        val x0 = ox + (r(8) * (a.RegionE4 - 30000L)).toLong
        val y0 = oy + (r(9) * (a.RegionE4 - 30000L)).toLong
        Search("spatial", Nil, None, Array(x0, y0, x0 + 30000L, y0 + 30000L))
    }
  }

  /** Order-independent checksum of a set of ids. */
  def idChecksum(ids: Iterator[Long]): Long = ids.foldLeft(0L)((acc, id) => acc + mix(id))

  final case class Answer(rows: Long, checksum: Long)

  /** The archive's rows as flat arrays, so answers are checked by brute
   *  force over the generator's own records. */
  final class StacRecords(val a: Stac) {
    val date = new Array[Long](a.rows)
    val box: Array[Array[Long]] = Array.fill(4)(new Array[Long](a.rows))
    (0 until a.rows).foreach { i =>
      date(i) = a.dateMs(i)
      val b = a.boxE4(i)
      (0 until 4).foreach(k => box(k)(i) = b(k))
    }

    /** The same inclusive envelope test `bbox_intersects` applies. */
    def intersects(i: Int, q: Array[Long]): Boolean =
      box(0)(i) <= q(2) && box(2)(i) >= q(0) && box(1)(i) <= q(3) && box(3)(i) >= q(1)

    private def rowsOf(c: Int): Range = c * a.perCollection until (c + 1) * a.perCollection

    /** Expected (row count, id checksum) of a search. */
    def expected(s: Search): Answer = {
      val cs = if (s.collections.isEmpty) 0 until a.collections
        else (0 until a.collections).filter(c => s.collections.contains(a.collection(c)))
      val (lo, hi) = s.dates.getOrElse((Long.MinValue, Long.MaxValue))
      var n = 0L
      var sum = 0L
      cs.foreach(c => rowsOf(c).foreach { i =>
        if (date(i) >= lo && date(i) <= hi && intersects(i, s.boxE4)) {
          n += 1; sum += mix(a.id(i))
        }
      })
      Answer(n, sum)
    }

    /** Expected full-table aggregate: per collection, the row count, the
     *  latest date and the number of rows whose box intersects `q`. */
    def expectedAggregate(q: Array[Long]): Map[String, (Long, Long, Long)] =
      (0 until a.collections).map { c =>
        val rows = rowsOf(c)
        a.collection(c) -> (rows.length.toLong, rows.map(date(_)).max,
          rows.count(intersects(_, q)).toLong)
      }.toMap
  }

  // ------------------------------------------------------- text and vectors

  val Words = 60
  val Vocabulary = 20000

  /** A fresh document: `Words` words drawn from a large vocabulary, so two
   *  fresh documents share almost no 3-word shingle (Jaccard near 0). */
  def freshText(seed: Long, id: Long): String =
    (0 until Words).map(w => "w" + java.lang.Long.remainderUnsigned(hash(seed, id, 100 + w),
      Vocabulary)).mkString(" ")

  /** A planted near-duplicate: the original with its last word replaced,
   *  which changes one of its 58 shingles (Jaccard 57/59 ≈ 0.97, far above
   *  the 0.7 threshold). */
  def nearDupText(original: String): String =
    original.substring(0, original.lastIndexOf(' ')) + " x" + original.length

  val Dim = 64

  /** A fresh unit vector with Gaussian coordinates: at 64 dimensions two
   *  fresh vectors have cosine around 0 ± 0.13, far below 0.95. */
  def freshVector(seed: Long, id: Long): Array[Float] = {
    val rng = new java.util.Random(hash(seed, id, 200))
    normalize(Array.fill(Dim)(rng.nextGaussian().toFloat))
  }

  /** A planted near-duplicate vector: cosine about 0.995 to its original. */
  def nearDupVector(seed: Long, id: Long, original: Array[Float]): Array[Float] = {
    val rng = new java.util.Random(hash(seed, id, 300))
    val noise = normalize(Array.fill(Dim)(rng.nextGaussian().toFloat))
    normalize(original.indices.map(j => original(j) + 0.1f * noise(j)).toArray)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** One micro-batch of the lifecycle: `fresh` new items plus `dups`
   *  planted near-duplicates, each of an item admitted earlier (from the
   *  bootstrap or a previous batch, so never itself dropped). Planted ids
   *  are larger than every original, so the greedy rule drops the copy.
   *  Expected: `fresh` admitted, `dups` dropped. */
  final case class Batch(round: Int, ids: Seq[Long], planted: Seq[(Long, Long)]) {
    def admitted: Long = ids.length - planted.length
    def dropped: Long = planted.length
  }

  final case class Lifecycle(seed: Long, bootstrap: Int, batchSize: Int, dupsPerBatch: Int) {
    def bootstrapIds: Seq[Long] = (0 until bootstrap).map(_.toLong)
    def batch(round: Int): Batch = {
      val base = 1000000L * (round + 1)
      val fresh = (0 until batchSize - dupsPerBatch).map(j => base + j)
      // originals come from items admitted before this round
      val pool = bootstrap.toLong + round.toLong * (batchSize - dupsPerBatch)
      val planted = (0 until dupsPerBatch).map { j =>
        val o = java.lang.Long.remainderUnsigned(hash(seed, round, 400 + j), pool)
        val original = if (o < bootstrap) o
          else { val p = o - bootstrap; 1000000L * (p / (batchSize - dupsPerBatch) + 1) +
            p % (batchSize - dupsPerBatch) }
        (base + 500000L + j, original)
      }
      Batch(round, fresh ++ planted.map(_._1), planted)
    }
    def text(id: Long, planted: Map[Long, Long]): String =
      planted.get(id).fold(freshText(seed, id))(o => nearDupText(freshText(seed, o)))
    def vector(id: Long, planted: Map[Long, Long]): Array[Float] =
      planted.get(id).fold(freshVector(seed, id))(o => nearDupVector(seed, id,
        freshVector(seed, o)))
  }
}
