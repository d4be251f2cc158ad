package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generator's expected answers agree with what the engine returns on
 *  a hand-sized archive (256 rows, 4 collections, 16-row chunks). */
class AnswerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config(s"spark.hadoop.fs.${BenchFs.Scheme}.impl", classOf[BenchFileSystem].getName)
    .config(s"spark.hadoop.fs.AbstractFileSystem.${BenchFs.Scheme}.impl",
      classOf[BenchAbstractFs].getName)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val archive = Gen.Stac(21, 256, 4)
  private lazy val table = {
    val uri = BenchFs.uri(Files.createTempDirectory("answers").toFile.getPath + "/store")
    ZarrWorkload.write(spark, archive, 16, uri)
    spark.read.format("zarr").option("group", ZarrWorkload.Group)
      .option("target_partition_rows", "64").load(uri)
  }
  private lazy val rec = new Gen.StacRecords(archive)

  test("every search class returns the rows the records predict") {
    val answers = (0 until 30).map { k =>
      val s = Gen.search(archive, k)
      val ids = ZarrWorkload.search(table, s).collect().map(_.getLong(0))
      (s.kind, Gen.Answer(ids.length, Gen.idChecksum(ids.iterator)), rec.expected(s))
    }
    answers.foreach { case (kind, got, want) => assert(got == want, kind) }
    // the check is not vacuous: some searches of each class find rows
    assert(answers.groupBy(_._1).values.forall(_.exists(_._3.rows > 0)))
  }

  test("the full-table aggregate matches the records") {
    val q = Array(-1600000L, -700000L, 200000L, 500000L)
    val got = ZarrWorkload.aggregateAnswer(ZarrWorkload.aggregate(table, q).collect())
    val want = rec.expectedAggregate(q)
    assert(got == want)
    assert(want.values.map(_._3).sum > 0)
  }
}
