package graft

/** Driver-contract smoke, self-contained in `sbt test`: every query in
  * the surface runs at sf0.001 and returns rows; every oracle key
  * references a real query. (The value-level check is the driver's
  * DuckDB gate — Verify + tools/selfcheck.py.)
  */
class SparkEntrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("oracle keys all reference queries; flagship entry returns rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("s_ann_ivf publishes its fitted-centroid oracle after running") {
    // Verify runs every query BEFORE dumping oracle_sql.json — the ivf
    // query caches its fitted model and the oracle def freezes it into
    // literal SQL; this pins that mechanism so the gate never silently
    // regresses to rows-only
    SparkEntry.queries("s_ann_ivf")(spark, sfDir).count()
    val sql = SparkEntry.oracleSql.get("s_ann_ivf")
    assert(sql.isDefined, "ivf oracle missing after the query ran")
    assert(sql.get.contains("list_position(sl, list_min(sl))") &&
      sql.get.contains("list_sort"),
      "ivf oracle lost its assign/probe twin structure")
    spark.catalog.clearCache()
  }

  test("memoized relations are released synchronously on clear") {
    // the cleanup owners are clearFitMemo (memoized relations) and
    // clearCache (the builders' own persists) — nothing is left for the
    // GC; start from no persisted RDDs so other suites' residue can't
    // fake a leak
    val sc = spark.sparkContext
    graft.queries.clearFitMemo()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Seq("d_minhash_lsh", "s_knn_join", "t_bm25_topk", "t_hybrid_rrf",
      "t_classifier_filter").foreach(q =>
      SparkEntry.queries(q)(spark, sfDir).collect())
    assert(sc.getPersistentRDDs.nonEmpty)
    graft.queries.clearFitMemo()
    spark.catalog.clearCache()
    assert(sc.getRDDStorageInfo.isEmpty,
      sc.getRDDStorageInfo.map(_.toString).mkString("; "))
    assert(sc.getPersistentRDDs.isEmpty)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query surface smoke: $name") {
      val df = fn(spark, sfDir)
      val n = df.count()
      // oracle-gated queries may legitimately be empty at tiny SF (the
      // DuckDB compare checks the value either way); rows-only queries
      // have no oracle, so emptiness would make the driver's weaker
      // check vacuous — they must produce rows
      if (!SparkEntry.oracleSql.contains(name))
        assert(n > 0, s"rows-only query $name returned no rows")
      assert(df.columns.nonEmpty)
      spark.catalog.clearCache()
    }
  }
}
