package graft
import java.nio.file.{Files, Paths}
import graft.util.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir). A third CSV-of-names arg
    // is a builder-side convenience for targeted re-verification.
    val (sfDir, outDir, only) = args match {
      case Array(sf, out)        => (sf, out, None)
      case Array(sf, out, names) => (sf, out, Some(names.split(',').toSet))
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // drop any stale result first — a failed query must show up as
      // missing output, not silently pass on the previous run's bytes
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(target)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a raw tab or CR in an oracle string
    // would make a strict JSON reader reject the whole file
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
