package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only third arg: comma-separated query-name prefixes — dump
    // (and list in oracle_sql.json) only matching queries, for fast
    // single-operator iteration via scripts/check.py. The driver's
    // two-arg call is unchanged.
    val keep: String => Boolean = args.drop(2).headOption match {
      case Some(pfx) =>
        val ps = pfx.split(",").toSeq; name => ps.exists(name.startsWith)
      case None => _ => true
    }
    val spark = Tables.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = mapper.createObjectNode()
    SparkEntry.oracleSql.filter(e => keep(e._1))
      .foreach { case (k, v) => json.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(json))
    spark.stop()
  }
}
