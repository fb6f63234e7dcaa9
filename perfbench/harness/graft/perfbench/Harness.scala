package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType
import graft.{GraftSession, Pipeline, SparkEntry}
import graft.analytics.GoldAnalytics
import graft.sources.Landing

/**
 * JVM side of the benchmark: runs one workload over inputs that
 * `perfbench/run.py` generated, in one closed loop on one thread, and writes
 * its timings (and, when traced, its trace) as JSON. It never checks
 * outputs itself; it saves them for the DuckDB oracle in `oracle.py`.
 *
 * The work of a run is fixed by its inputs: every poll in `incoming`, every
 * pass in `query_order.txt`. `capSeconds` only bounds the timed phase: a run
 * whose timed phase takes longer fails.
 *
 * Usage: Harness <workload> <workDir> <capSeconds> <trace 0|1> <cores>
 */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(workload, work, capArg, traceArg, cores) = args
    val cap = capArg.toDouble
    val traced = traceArg == "1"
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("session_ready_epoch_ms") = System.currentTimeMillis()
    workload match {
      case "medallion" => new Medallion(spark, work, cap, traced, trace, out).run()
      case "query_tail" | "query_heavy" =>
        new Queries(spark, work, cap, traced, trace, out).run()
      case other => sys.error(s"unknown workload: $other")
    }
    trace.detach()
    out("peak_rss_kb") = peakRssKb()
    out("jvm") = s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}"
    out("heap_max_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
    out("spark_version") = spark.version
    Files.writeString(Paths.get(s"$work/harness.json"), Json(out))
    if (traced) {
      val lines = trace.records.synchronized(trace.records.map(Json(_)).mkString("\n"))
      Files.writeString(Paths.get(s"$work/trace_raw.jsonl"), lines + "\n")
    }
    spark.stop()
  }

  /** VmHWM: the process's peak resident set, in kB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def checkCap(t0: Long, cap: Double): Unit =
    if (elapsedS(t0) > cap)
      sys.error(f"timed phase exceeded its cap of $cap%.0f s after ${elapsedS(t0)}%.1f s")

  /** Verify's dump format: instants as TIMESTAMP_NTZ. */
  def saveResult(df: DataFrame, path: String): Unit = {
    val ntz = df.schema.fields.collect { case f if f.dataType == TimestampType => f.name }
      .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp_ntz")))
    ntz.write.mode("overwrite").parquet(path)
  }

  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** The paper's pipeline: one backfill `Pipeline.run`, then one-poll cycles. */
final class Medallion(spark: SparkSession, work: String, cap: Double,
                      traced: Boolean, trace: Trace,
                      out: mutable.Map[String, Any]) {
  import Harness._

  private val WarmCycles = 3  // run.py's WARM_CYCLES
  private val inputs = Paths.get(work, "medallion")
  private def polls(dir: Path): Vector[Path] =
    Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".json"))
      .toVector.sortBy(_.getFileName.toString)

  /** `coincap_data_20250524_031000.json` → `2025-05-24 03:10:00`. */
  private def runTs(poll: Path): String = {
    val s = poll.getFileName.toString.stripPrefix("coincap_data_").stripSuffix(".json")
    s"${s.take(4)}-${s.slice(4, 6)}-${s.slice(6, 8)} ${s.slice(9, 11)}:${s.slice(11, 13)}:${s.slice(13, 15)}"
  }

  /** One pipeline run over whatever is pending in `landing`; returns the
    * dashboard rows. Traced runs call the three steps `Pipeline.run` is made
    * of, each in its own span. */
  private def pipelineRun(p: Pipeline, landing: String, ts: String): Array[Row] =
    if (!traced) p.run(landing, ts).collect()
    else {
      trace.span("Pipeline.bronzeToSilver")(p.bronzeToSilver(landing, ts))
      trace.span("Pipeline.silverToGold")(p.silverToGold(ts))
      val df = trace.span("GoldAnalytics.dashboard")(GoldAnalytics.dashboard(spark))
      trace.span("dashboard.collect")(df.collect())
    }

  def run(): Unit = {
    val backfill = polls(inputs.resolve("backfill"))
    val incoming = polls(inputs.resolve("incoming"))
    val landing = inputs.resolve("landing")
    Files.createDirectories(landing)
    val pipeline = new Pipeline(spark, s"$work/warehouse")

    // backfill: every backfill poll lands at once and goes through one
    // Pipeline.run, on a fresh JVM as a first deployment's would
    backfill.foreach(p => Files.move(p, landing.resolve(p.getFileName)))
    trace.beginOp(0, traced)
    val tb = System.nanoTime()
    var rows = trace.span("backfill")(pipelineRun(pipeline, landing.toString, runTs(backfill.last)))
    out("backfill") = Map("s" -> elapsedS(tb), "polls" -> backfill.size,
      "dashboard_rows" -> rows.length)
    trace.endOp()
    saveRows(rows, "dashboard_backfill.json")

    // incremental: each poll in `incoming` lands, the pipeline runs, the
    // dashboard returns. The first WarmCycles cycles are untimed warm-up.
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmS = mutable.ArrayBuffer.empty[Double]
    var lastTs = runTs(backfill.last)
    val it = incoming.iterator
    var t0 = System.nanoTime()
    while (it.hasNext) {
      val poll = it.next()
      val warm = warmS.size < WarmCycles
      val op = cycles.size + 1
      // traced runs alternate traced and untraced cycles (trace overhead)
      val tracedOp = traced && !warm && op % 2 == 0
      trace.beginOp(if (warm) -1 else op, tracedOp)
      lastTs = runTs(poll)
      val tc = System.nanoTime()
      rows = trace.span("cycle") {
        trace.span("Landing.injectPoll")(
          Files.move(poll, landing.resolve(poll.getFileName), StandardCopyOption.ATOMIC_MOVE))
        pipelineRun(pipeline, landing.toString, lastTs)
      }
      if (warm) {
        warmS += elapsedS(tc)
        t0 = System.nanoTime()
      } else cycles += Map("op" -> op, "s" -> elapsedS(tc), "traced" -> tracedOp,
        "dashboard_rows" -> rows.length)
      trace.endOp()
      checkCap(t0, cap)
    }
    out("warm_s") = warmS.toSeq
    out("cycles") = cycles.toSeq
    out("final_run_ts") = lastTs
    out("pending_after") = Landing.pendingFiles(landing.toString).size
    saveRows(rows, "dashboard_final.json")
  }

  /** Dashboard rows as JSON: doubles at full precision, instants as UTC ISO. */
  private def saveRows(rows: Array[Row], name: String): Unit = {
    val cols = if (rows.isEmpty) Seq.empty[String] else rows.head.schema.fieldNames.toSeq
    val data = rows.toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.toInstant.toString
      case other => other
    })
    Files.writeString(Paths.get(work, name), Json(Map("columns" -> cols, "rows" -> data)))
  }
}

/** `query_tail` and `query_heavy`: SparkEntry queries in seeded order, each
  * forced to its full result with a `noop` write. */
final class Queries(spark: SparkSession, work: String, cap: Double,
                    traced: Boolean, trace: Trace,
                    out: mutable.Map[String, Any]) {
  import Harness._

  private val tables = s"$work/tables"

  def run(): Unit = {
    val passes = Files.readAllLines(Paths.get(work, "query_order.txt")).asScala
      .filter(_.nonEmpty).map(_.split(",").toVector).toVector
    val names = passes.head.sorted
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"no such query: $n"))).toMap
    Files.writeString(Paths.get(work, "oracle_sql.json"),
      Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))

    // untimed warm-up that doubles as the output check: each query's full
    // result is saved for the DuckDB oracle
    val checkErrors = mutable.LinkedHashMap.empty[String, String]
    val tw = System.nanoTime()
    names.foreach { n =>
      try saveResult(fns(n)(spark, tables), s"$work/results/$n")
      catch { case e: Throwable => checkErrors(n) = errorText(e) }
    }
    out("check_errors") = checkErrors.toMap
    out("warm_s") = Seq(elapsedS(tw))

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    passes.zipWithIndex.foreach { case (order, pass) =>
      order.foreach { n =>
        // traced runs trace half the queries, the other half in the next
        // pass, so each query is timed both ways (trace overhead); by name,
        // since every pass has its own order
        val tracedOp = traced && (names.indexOf(n) + pass) % 2 == 1
        trace.beginOp(ops.size, tracedOp)
        val tq = System.nanoTime()
        var build = 0.0
        val err = try {
          trace.span("query", Map("query" -> n)) {
            val df = trace.span("query.build")(fns(n)(spark, tables))
            build = elapsedS(tq)
            trace.span("query.execute")(df.write.format("noop").mode("overwrite").save())
          }
          None
        } catch { case e: Throwable => Some(errorText(e)) }
        ops += Map("op" -> ops.size, "query" -> n, "pass" -> pass, "s" -> elapsedS(tq),
          "build_s" -> build, "traced" -> tracedOp) ++ err.map("error" -> _)
        trace.endOp()
        checkCap(t0, cap)
      }
    }
    out("ops") = ops.toSeq

    if (traced) {
      // `.count()` forcing, untraced, to set against the untraced full runs
      trace.detach()
      out("count_s") = names.map { n =>
        val t = System.nanoTime()
        fns(n)(spark, tables).count()
        n -> elapsedS(t)
      }.toMap
    }
  }
}

/** Minimal JSON encoder for maps, sequences, strings, numbers and null. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case o: Option[_] => apply(o.orNull)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
