package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [q1,q2,...]"
  *
  * The optional third argument dumps only the named queries: the
  * single-query pre-flight for a just-added or just-changed query. */
object Verify {
  /** The registry entries to dump: all of them, or the comma-separated
    * `names`. An unknown name is an error listing every unknown one, so a
    * typo fails here instead of dumping nothing and reading as a clean
    * oracle run. */
  def selected(names: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    names.fold(all.toSeq) { csv =>
      val wanted = csv.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
      require(wanted.nonEmpty, s"no query name in '$csv'")
      val unknown = wanted.filterNot(all.contains)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.mkString(", ")}")
      wanted.map(n => n -> all(n))
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val queries = selected(args.lift(2))
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
  }
}
