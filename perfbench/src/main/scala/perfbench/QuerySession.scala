package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A user's analysis session over the corpus fixture (`corpus_session`):
  * a fixed set of queries in one session, each built fresh from
  * `SparkEntry.queries` and fully consumed by `collect()`, so no output
  * column can be pruned away. Families run in order:
  *
  *  - dedup, similarity, retrieval: queries built on memoized relations
  *    (the shingle table and minhash pairs, the kNN ranking, and the BM25
  *    rank and dense top-k both retrieval queries share). Memoized
  *    relations are dropped at the start of each pass, so their builds are
  *    part of the pass;
  *  - image, audio, video: one CPU-bound decoder each (`MediaCodec`), with
  *    no shared relations.
  *
  * The seed permutes the order within each family. Each result is checked
  * against the golden row count and digest in `goldens.json`. */
final class QuerySession(spark: SparkSession, inputs: String, seed: Long)
    extends Workload {
  private val all = graft.SparkEntry.queries
  private val goldens = Json.read(s"$inputs/goldens.json")

  private val families: Seq[(String, Seq[String])] = {
    val rng = new scala.util.Random(seed)
    QuerySession.families.map { case (f, qs) => f -> rng.shuffle(qs) }
  }

  def prepare(): Double = {
    val t = System.nanoTime()
    // the corpus tables, as a session opens them
    Seq("documents", "embeddings").foreach(
      graft.Tables.load(spark, s"$inputs/corpus", _).schema)
    (System.nanoTime() - t) / 1e9
  }

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Build, then fully consume, one query; check it against its golden. */
  private def run(fam: String, q: String, tr: Tracer,
                  checks: Checks): Map[String, Any] = {
    val t0 = System.nanoTime()
    val df: DataFrame = tr.span(s"queries.build:$q") {
      all(q)(spark, s"$inputs/corpus")
    }
    val t1 = System.nanoTime()
    // traced passes force physical planning before the action
    val plan = tr.span(s"spark.plan:$q") {
      if (tr.isAttached) Some(df.queryExecution.executedPlan) else None
    }
    val t2 = System.nanoTime()
    val rows: Array[Row] = tr.span(s"queries.exec:$q")(df.collect())
    val t3 = System.nanoTime()
    val g = goldens.get(q)
    checks(q) {
      g != null && rows.length == g.get("rows").asLong() &&
        (g.get("digest").isNull ||
          Digest.of(df.schema, rows) == g.get("digest").asText())
    }
    Map("query" -> q, "family" -> fam,
      "build_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
      "exec_ms" -> (t3 - t2) / 1e6, "ms" -> (t3 - t0) / 1e6,
      "rows" -> rows.length,
      "plan_nodes" -> plan.map(QuerySession.nodes).getOrElse(0),
      "cached_bytes" -> (if (tr.isAttached) cachedBytes() else 0L))
  }

  def cycle(k: Int, tr: Tracer, checks: Checks): Map[String, Any] = {
    graft.queries.clearFitMemo()
    spark.catalog.clearCache()
    val heap = ArrayBuffer(Heap.liveMb())
    val perQuery = ArrayBuffer.empty[Map[String, Any]]
    tr.span("phase:session") {
      for ((fam, qs) <- families) {
        qs.foreach(q => perQuery += run(fam, q, tr, checks))
        heap += Heap.liveMb()
      }
    }
    graft.queries.clearFitMemo()
    spark.catalog.clearCache()
    Map("wall_s" -> perQuery.map(_("ms").asInstanceOf[Double]).sum / 1000,
      "heap_mb" -> heap,
      "queries" -> perQuery,
      "cached_bytes_peak" -> perQuery.map(_("cached_bytes").asInstanceOf[Long]).max,
      "cached_bytes_after_clear" -> (if (tr.isAttached) cachedBytes() else 0L))
  }
}

object QuerySession {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** Physical operators in a plan, subqueries included; an adaptive plan
    * is counted by the plan it starts from. */
  def nodes(p: SparkPlan): Int = (p match {
    case a: AdaptiveSparkPlanExec => a.inputPlan
    case other => other
  }).collectWithSubqueries { case n => n }.size

  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("d_minhash_lsh"),
    "similarity" -> Seq("s_knn_join"),
    "retrieval" -> Seq("t_bm25_topk", "t_hybrid_rrf"),
    "image" -> Seq("mm_png_pixels"),
    "audio" -> Seq("mm_wav_energy"),
    "video" -> Seq("mm_mp4_samples"))
}

/** Order-independent digest of a query result: each row rendered with
  * its columns in name order (doubles rounded to 6 decimals, as the
  * oracle comparison does), the row strings sorted, then MD5. */
object Digest {
  def of(schema: org.apache.spark.sql.types.StructType,
         rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001"))
    scala.util.Sorting.quickSort(lines)
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = java.math.BigDecimal.valueOf(d)
        .setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
      if (s.matches("-0\\.0+")) s.drop(1) else s
    }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (x, y) => render(x) + ":" + render(y) }.sorted
        .mkString("{", ",", "}")
    case s: collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
