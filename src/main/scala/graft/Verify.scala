package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // fresh dumps every Verify run: queries re-materialize them via
    // Dumps.ensure, and the DuckDB oracle reads them — a stale dump from
    // an older kernel revision must never survive into a driver run
    Dumps.clean(sfDir)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      SparkEntry.run(spark, sfDir, name, fn)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
        .left.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
