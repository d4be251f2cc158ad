package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run in sorted-name order with a per-query OK/FAIL + seconds line
  * on stderr, so a missing CORRECTNESS entry is attributable from the log
  * (r01 lost 13 entries silently). */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [onlyQueries,comma,separated]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev filter (a full run passes two args): dump only
    // the named queries. oracle_sql.json is filtered to the same names
    // below, so compare.py checks only them (it reports every name in
    // that file without a dump as "spark output missing") and a single
    // new query round-trips in seconds instead of a full-surface run
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var nOk, nFail = 0
    val prepares = SparkEntry.prepares
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        prepares.get(name).foreach(_(spark, sfDir))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
        System.err.println(f"[verify] OK   $name%-28s ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        nFail += 1
        System.err.println(s"[verify] FAIL $name: ${e.getMessage}")
      }
    }
    System.err.println(s"[verify] done: $nOk ok, $nFail failed, ${SparkEntry.queries.size} declared")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
