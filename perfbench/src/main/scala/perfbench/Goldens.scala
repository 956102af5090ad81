package perfbench

/** Golden derivation for the query workloads: runs every query of
  * `corpus_session` once over a corpus fixture and
  * writes, under `<out>`, each result as parquet (for the DuckDB oracle
  * comparison in `goldens.py`), the oracle SQL, and `digests.json` (row
  * count + [[Digest]] per query).
  *
  * {{{ perfbench.Goldens <corpusDir> <outDir> <cpus> }}} */
object Goldens {
  def main(args: Array[String]): Unit = {
    val Array(corpus, out, cpus) = args
    val spark = graft.GraftSession.local(cpus.toInt)
    val names = QuerySession.families.flatMap(_._2).sorted
    new java.io.File(out).mkdirs()
    val digests = names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, corpus)
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      q -> Map("rows" -> rows.length, "digest" -> Digest.of(df.schema, rows))
    }.toMap
    Json.write(s"$out/digests.json", digests)
    Json.write(s"$out/oracle_sql.json",
      graft.SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) })
    spark.stop()
  }
}
