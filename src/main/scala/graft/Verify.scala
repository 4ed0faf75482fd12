package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
            "usage: Verify <sfDir> <outDir> [onlyQuery1,onlyQuery2,...]")
    val Array(sfDir, outDir) = args.take(2)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (optional third CLI arg, comma-separated
    // names): lets tools/check.py re-verify one query in seconds while
    // iterating. An explicit argument, not an env var, so a gate
    // environment can't silently inherit a shrunken surface — the
    // driver's two-arg invocation always dumps every query.
    val only = args.lift(2)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.filter {
      case (name, _) => only.forall(_.contains(name))
    }
    val dumped = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        Some(name)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
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
    // THIS run's dump manifest: with a reused outDir, dirs from prior runs
    // linger, so dir existence can't distinguish fresh from stale —
    // check.py reads this to warn about queries whose parquet predates the
    // current code
    Files.writeString(Paths.get(s"$outDir/dumped.json"),
                      dumped.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
