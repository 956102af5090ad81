package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftConfig
import graft.ddl.SchemaRegistry
import graft.operators.GraftTable
import graft.sources.{DebeziumTail, SpoolProducer}
import graft.streaming.Replicator

/** The paper's replication path end to end, over the inputs `gen.py`
  * writes: MySQL DDL registered, a Debezium dump turned into the spool
  * (set-up), then per pass, into a fresh warehouse:
  *
  *  1. `Replicator.start` with `Trigger.AvailableNow`: the sharded
  *     snapshot, then the stream caught up through `CdcPipeline`;
  *  2. a FINAL read (`GraftTable.read`) of every table;
  *  3. point lookups (`GraftTable.lookup`) of unchanged, updated, deleted
  *     and absent keys;
  *  4. one OPTIMIZE (`GraftTable.compact()`) per table.
  *
  * The FINAL state and each lookup (every pass) and the state after
  * OPTIMIZE (warm-up pass) are checked against the expected state the
  * generator computed on its own. */
final class Replicate(spark: SparkSession, inputs: String, work: String,
                      cpus: Int) extends Workload {
  import Replicate._

  private val meta = Json.read(s"$inputs/inputs.json")
  private val db = meta.get("db").asText()
  private val tables = meta.get("tables").elements().asScala.map(_.asText()).toSeq
  private val ddl = tables.map(t => t -> meta.get("ddl").get(t).asText()).toMap
  private val keyCol = tables.map(t =>
    t -> meta.get("keys").get(t).get(0).asText()).toMap
  private val lookups: Seq[(String, Long)] = tables.flatMap { t =>
    meta.get("lookups").get(t).elements().asScala.map(p => t -> p.get(0).asLong())
  }
  private val events = meta.get("events").asLong()
  private val ddlStatements = meta.get("ddl_statements").asLong()

  /** `binlog_replicator.records_per_file`: the spool file size, and with
    * the spool source's 16 files per trigger, the micro-batch size. */
  private val config = GraftConfig(
    initialReplicationThreads = cpus,
    optimizeInterval = 0,
    spoolRecordsPerFile = meta.get("records_per_file").asInt())

  private val spool = s"$work/spool"
  private var spoolFiles = 0
  private var produceEventsPerSec = 0.0

  def prepare(): Double = {
    rm(new java.io.File(spool))
    val t = System.nanoTime()
    val tail = new DebeziumTail(s"$inputs/dump", new SpoolProducer(spool, config))
    var n = tail.tick()
    var total = 0
    while (n > 0) { total += n; n = tail.tick() }
    val s = (System.nanoTime() - t) / 1e9
    produceEventsPerSec = total / s
    spoolFiles = new java.io.File(spool).list()
      .count(n => !n.startsWith("_") && !n.startsWith("."))
    s
  }

  /** Fingerprint and lookup answers of the expected FINAL state, typed
    * like each table's FINAL read (known once a pass has applied the
    * stream's DDL). */
  private var expectedHash = Map.empty[String, (Long, Long)]
  private var expectedLookups = Map.empty[(String, Long), Seq[String]]

  private def learnExpected(tbls: Map[String, GraftTable]): Unit = {
    val expected = tbls.map { case (t, g) =>
      val schema = g.read.schema
      val raw = spark.read.parquet(s"$inputs/expected/$t.parquet")
      t -> raw.select(schema.fields.map(f =>
        (if (raw.columns.contains(f.name)) col(f.name)
         else lit(null)).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    }
    expectedHash = expected.map { case (t, df) => t -> fingerprint(df) }
    expectedLookups = tables.flatMap { t =>
      val keys = lookups.collect { case (`t`, k) => k }.distinct
      val got = expected(t).filter(col(keyCol(t)).isin(keys: _*)).collect()
        .groupBy(r => r.getAs[Any](keyCol(t)).toString.toLong)
      keys.map(k => (t, k) -> got.getOrElse(k, Array.empty[Row])
        .map(_.toString).toSeq.sorted)
    }.toMap
  }

  def cycle(k: Int, tr: Tracer, checks: Checks): Map[String, Any] = {
    val dir = s"$work/pass-$k"
    val wh = s"$dir/warehouse"
    val registry = new SchemaRegistry(db)
    tables.foreach(t => registry.applySql(db, ddl(t)))
    val snapshots = tables.map(t =>
      t -> spark.read.parquet(s"$inputs/snapshot/$t.parquet")).toMap
    val heap = ArrayBuffer.empty[Double]
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tr.span(s"phase:$name")(body)
      val s = (System.nanoTime() - t0) / 1e9
      heap += Heap.liveMb()
      (r, s)
    }

    // 1. snapshot + catch-up
    val ((pipeline, query), snapshotS) = timed("snapshot") {
      tr.span("sources.Replicator.start") {
        Replicator.start(spark, config, registry, wh, spool, s"$dir/checkpoint",
          snapshots, Trigger.AvailableNow())
      }
    }
    val (_, streamS) = timed("stream") {
      tr.span("streaming.awaitTermination")(query.awaitTermination())
    }
    checks("stream") { query.exception.isEmpty }
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    val batches = progress.map { p =>
      val d = p.durationMs.asScala
      Map("trigger_ms" -> d.get("triggerExecution").map(_.toLong).getOrElse(0L),
        "add_batch_ms" -> d.get("addBatch").map(_.toLong).getOrElse(0L),
        "rows" -> p.numInputRows)
    }
    val tbls = tables.map(t => t -> pipeline.table(db, t)).toMap
    val storedBytes = du(new java.io.File(wh))
    val dataFiles = tbls.values.map(_.dataFileCount).sum
    if (expectedHash.isEmpty) learnExpected(tbls)

    // 2. FINAL read of every table, every column consumed
    val (finals, finalS) = timed("final_scan") {
      tables.map(t => t -> tr.span(s"operators.GraftTable.read:$t") {
        fingerprint(tbls(t).read)
      }).toMap
    }
    tables.foreach(t => checks(s"final:$t")(finals(t) == expectedHash(t)))
    val finalRows = finals.values.map(_._1).sum

    // 3. point lookups
    val lookupMs = ArrayBuffer.empty[Double]
    val (_, lookupS) = timed("lookup") {
      lookups.foreach { case (t, key) =>
        val t0 = System.nanoTime()
        val rows = tr.span(s"operators.GraftTable.lookup:$t") {
          tbls(t).lookup(key).collect()
        }
        lookupMs += (System.nanoTime() - t0) / 1e6
        checks(s"lookup:$t:$key") {
          rows.map(_.toString).toSeq.sorted == expectedLookups((t, key))
        }
      }
    }

    // 4. OPTIMIZE
    val (_, compactS) = timed("compact") {
      tables.foreach(t =>
        tr.span(s"operators.GraftTable.compact:$t")(tbls(t).compact()))
    }
    val compactBytes = du(new java.io.File(wh)) - storedBytes
    // OPTIMIZE is deterministic: its output is checked once per run, on the
    // warm-up pass, to keep the timed passes' share of the run
    if (k < 0) tables.foreach(t =>
      checks(s"after_compact:$t")(fingerprint(tbls(t).read) == expectedHash(t)))
    rm(new java.io.File(dir))

    Map("wall_s" -> (snapshotS + streamS + finalS + lookupS + compactS),
      "heap_mb" -> heap,
      "snapshot_s" -> snapshotS, "stream_s" -> streamS, "final_s" -> finalS,
      "lookup_s" -> lookupS, "compact_s" -> compactS,
      "snapshot_rows" -> meta.get("snapshot_rows").asLong(),
      "events" -> events, "ddl_statements" -> ddlStatements,
      "final_rows" -> finalRows, "lookup_ms" -> lookupMs,
      "batches" -> batches, "stored_bytes" -> storedBytes,
      "data_files" -> dataFiles, "compact_bytes" -> compactBytes,
      "spool_files" -> spoolFiles,
      "produce_events_per_sec" -> produceEventsPerSec)
  }
}

object Replicate {
  /** Row count and an order-independent hash over every column: the
    * action consumes the whole result without moving it to the driver. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.columns.toSeq.map(col)
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols: _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Bytes of the regular files under `f`, checksum side files excluded. */
  def du(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length() }
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
}
