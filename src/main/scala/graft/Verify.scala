package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full expected query list, so the local gate can flag a query that
    // crashed (and thus wrote no output directory) instead of skipping it.
    Files.writeString(Paths.get(s"$outDir/query_names.json"),
      SparkEntry.queries.keys.filter(keep).toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
