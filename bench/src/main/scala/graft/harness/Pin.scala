package graft.harness

/** Pins the suite's expected digests.
  *
  * {{{
  * Pin <data dir> <out dir>
  * }}}
  *
  * Writes each suite query's result to `<out>/<name>/` as parquet, with the
  * matching oracle SQL in `<out>/oracle_sql.json`, so `scripts/check.py
  * <data>/sf0.01 <out>` can compare them with DuckDB; prints one
  * `name<TAB>digest` line per query for `suite_digests.tsv`.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    val dir = s"$data/sf0.01"
    val spark = Session.create(s"$out/scratch")
    val names = Suite.Queries ++ Suite.TraceOnly
    val lines = names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      s"$q\t${Suite.digest(graft.SparkEntry.queries(q)(spark, dir))}"
    }
    val sql = names.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(s => s"${Json.str(q)}:${Json.str(s)}"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      sql.mkString("{", ",\n", "}"))
    lines.foreach(println)
    spark.stop()
    ServeMixed.deleteTree(new java.io.File(s"$out/scratch"))
  }
}
