package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    dump(sfDir, outDir, SparkEntry.queries.keys.toSeq)
  }

  /** Writes `names`' results under `outDir/<name>` and their oracle
    * SQL to `outDir/oracle_sql.json`. A failing query is reported on
    * stderr and leaves no dump behind. */
  def dump(sfDir: String, outDir: String, names: Seq[String]): Unit = {
    // A quoted shell redirect once arrived here verbatim and committed a
    // literal "2>/dev/null/" directory into the repo — refuse any outDir
    // carrying shell metacharacters instead of faithfully mkdir-ing it.
    require(!outDir.exists(c => "<>|&;`$\"'".contains(c)),
      s"outDir '$outDir' contains shell metacharacters — " +
        "this is almost certainly a mis-quoted redirect, not a path")
    val spark = Driver.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must not "pass" against a stale dump from an
        // earlier run when outDir is reused — remove any leftover
        val dir = new java.io.File(s"$outDir/$name")
        if (dir.isDirectory) {
          dir.listFiles().foreach(_.delete()); dir.delete()
          ()
        }
      }
    }
    val wanted = names.toSet
    val json = SparkEntry.oracleSql.filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${Driver.jsonString(k)}: ${Driver.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
