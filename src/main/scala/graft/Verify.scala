package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). Any FURTHER args are a
    // local-iteration convenience: restrict the dump to the named queries.
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // on from the start so SPJ-query plans are order-independent; only
      // opt-in reportPartitioning scans are affected (Feeds.ensureSpjConf)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the dump is complete either way; a failed query still fails the run
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
