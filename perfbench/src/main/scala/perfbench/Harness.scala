package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Outcome bookkeeping of one pass: every operation the pass attempts,
  * and those that failed or returned a wrong result. */
final class Checks {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def apply(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: $e"; false
    }
    if (!good) {
      failed += 1
      if (failures.size < 20 && !failures.exists(_.startsWith(what)))
        failures += s"$what: wrong result"
    }
  }
}

/** One workload: a repeatable set-up step and a timed pass over the
  * engine's public calls. */
trait Workload {
  /** Input production the engine does before the first pass (spool
    * production, fixture registration); returns its wall seconds. Run
    * several times so set-up is reported as a median. */
  def prepare(): Double

  /** One pass. Returns its observations: `wall_s` (timed wall), `heap_mb`
    * (live heap at phase boundaries), plus workload-specific figures. */
  def cycle(k: Int, tr: Tracer, checks: Checks): Map[String, Any]
}

object Heap {
  /** Live heap in MB: what the heap pools held right after an (untimed)
    * full collection, as the collector itself reports it, so allocations
    * by Spark's background threads after the collection do not count.
    * The first collection lets Spark's ContextCleaner see the last query's
    * unreachable shuffles and broadcasts; the pause lets it release their
    * blocks, so the second one measures what the session still holds. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

/** Benchmark entry point, one workload per JVM:
  *
  * {{{
  * perfbench.Harness --workload <name> --inputs <dir> --work <dir>
  *   --out <json> --cpus <n> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * Set-up (session, input production, one untimed warm-up pass) is
  * followed by timed passes while one more is expected to end within
  * `--seconds` (at least one).
  * With `--trace 1`, passes alternate between traced (listener attached,
  * spans recorded) and untraced, and one last pass runs at `local[1]`.
  * The raw observations go to `--out` as JSON; `run.py` turns them into
  * metrics. */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val cpus = a("cpus").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val work = a("work")
    val jvmStart =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    var spark = graft.GraftSession.local(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def make(s: SparkSession): Workload = name match {
      case "replicate" => new Replicate(s, a("inputs"), work, cpus)
      case "corpus_session" => new QuerySession(s, a("inputs"), seed)
      case other => sys.error(s"unknown workload $other")
    }
    var w = make(spark)
    val tracer0 = new Tracer(spark)
    val prepares = (0 until 3).map(_ => w.prepare())
    val warm = new Checks
    val tWarm = System.nanoTime()
    w.cycle(-1, tracer0, warm)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + Stats.median(prepares) + warmS

    val tracer = new Tracer(spark)
    val checks = new Checks
    val cycles = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var k = 0
    // start a pass only while it is expected to end inside the budget
    // (a traced run needs one traced and one untraced pass)
    while (k < (if (traced) 2 else 1) || (elapsed + elapsed / k) < seconds) {
      val tracedPass = traced && k % 2 == 0
      tracer.beginCycle(k, tracedPass)
      val obs = w.cycle(k, tracer, checks)
      tracer.endCycle()
      cycles += obs + ("traced" -> tracedPass)
      k += 1
    }

    // --trace 1: one more pass on a single core, for the scaling ratio
    val single: Option[Map[String, Any]] = if (!traced) None else {
      spark.stop()
      spark = graft.GraftSession.local(1)
      w = make(spark)
      w.prepare()
      val t = new Tracer(spark)
      Some(w.cycle(k, t, checks))
    }

    Json.write(a("out"), Map(
      "workload" -> name, "cpus" -> cpus, "seed" -> seed,
      "session_start_s" -> sessionS, "prepare_s" -> prepares,
      "warmup_s" -> warmS, "setup_s" -> setupS,
      "warmup_failed" -> warm.failed,
      "attempted" -> (checks.attempted + warm.attempted),
      "failed" -> (checks.failed + warm.failed),
      "failures" -> (warm.failures ++ checks.failures).take(20),
      "cycles" -> cycles, "single_core" -> single,
      "trace" -> (if (traced) Some(tracer.dump()) else None)))
    (warm.failures ++ checks.failures).take(20)
      .foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
