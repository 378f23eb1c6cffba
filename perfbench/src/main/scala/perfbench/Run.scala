package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the seed, the tracer, and the
  * figures the run produces. Three kinds of figure are kept apart:
  *  - `endToEnd`: the metrics BENCHMARK.json gates (printed with tracing off);
  *  - `layer`: per-layer metrics (printed by the traced run);
  *  - `report`: the workload's own end-to-end figures under their own names,
  *    printed as lines before the result and kept in the results file. */
final class Run(val spark: SparkSession, val seed: Long,
    val seconds: Int, val tracer: Tracer, val counters: Option[SparkCounters],
    val work: Path, val dataDir: String) {

  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Seconds of workload set-up (staging, training, warm-up) after the session exists. */
  var setupS = 0.0

  def check(found: Seq[String]): Unit = errors ++= found

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Run `f` as a named phase; the traced run records Spark's counters for it
    * as `spark.<phase>.*`. Returns the result and the phase's wall seconds. */
  def phase[T](name: String)(f: => T): (T, Double) = {
    counters.foreach(_ => org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext))
    val before = counters.map(_.snap())
    val (r, ms) = tracer.timed(s"phase.$name")(f)
    counters.foreach { c =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val d = c.snap() - before.get
      layer(s"spark.$name.jobs") = (d.jobs.toDouble, "count")
      layer(s"spark.$name.stages") = (d.stages.toDouble, "count")
      layer(s"spark.$name.tasks") = (d.tasks.toDouble, "count")
      layer(s"spark.$name.cpu_ms") = (d.cpuNs / 1e6, "ms")
      layer(s"spark.$name.shuffle_read_bytes") = (d.shuffleRead.toDouble, "bytes")
      layer(s"spark.$name.shuffle_write_bytes") = (d.shuffleWrite.toDouble, "bytes")
      layer(s"spark.$name.driver_only_ms") = (math.max(0.0, ms - d.busyMs), "ms")
    }
    (r, ms / 1000.0)
  }

  /** Job count of `f` alone (traced run only; 0 otherwise). */
  def jobsOf[T](f: => T): (T, Long) = counters match {
    case None => (f, 0L)
    case Some(c) =>
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val j0 = c.snap().jobs
      val r = f
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      (r, c.snap().jobs - j0)
  }

  /** Median, and the tail percentile the sample supports, of a latency
    * sample, under `name_p50_ms` / `name_tail_ms` in the report. */
  def reportLatency(name: String, xs: Seq[Double]): Unit = {
    report(s"${name}_samples") = (xs.length.toDouble, "count")
    if (xs.nonEmpty) report(s"${name}_p50_ms") = (Stats.median(xs), "ms")
    Stats.tail(xs).foreach { case (p, v) =>
      report(s"${name}_tail_ms") = (v, "ms")
      report(s"${name}_tail_pct") = (p, "pct")
    }
  }

  /** p50 of a per-call timing sample as a layer metric (0 calls: 0). */
  def layerP50(name: String, xs: Seq[Double], unit: String = "ms"): Unit =
    layer(name) = (if (xs.isEmpty) 0.0 else Stats.median(xs), unit)
}

/** Bytes on disk of a table's log and data. */
object TableFiles {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }

  def bytes(p: Path, keep: Path => Boolean = _ => true): Long = walk(p).filter(keep).map(Files.size).sum

  def count(p: Path, keep: Path => Boolean): Long = walk(p).count(keep).toLong

  def isLog(table: Path)(f: Path): Boolean = {
    val rel = table.relativize(f).toString
    rel.startsWith("_txlog") || rel.startsWith("_delta_log")
  }

  /** The txlog.* layer figures of a set of tables. `inputBytes` is the user
    * data the tables were built from. */
  def layerFigures(run: Run, tables: Seq[Path], inputBytes: Long): Unit = {
    val versions = tables.map(t => graft.sources.TxLog.currentVersion(t.toString).getOrElse(0L)).sum
    val logBytes = tables.map(t => bytes(t, isLog(t))).sum
    val dataBytes = tables.map(t => bytes(t, f => !isLog(t)(f))).sum
    val manifest = tables.flatMap { t =>
      graft.sources.TxLog.currentVersion(t.toString).map(v =>
        Files.size(t.resolve("_txlog").resolve(f"v$v%08d.manifest")))
    }
    val checkpoints = tables.map(t => count(t.resolve("_delta_log"),
      f => f.getFileName.toString.contains(".checkpoint"))).sum
    run.layer("txlog.versions") = (versions.toDouble, "count")
    run.layer("txlog.manifest_bytes") = (if (manifest.isEmpty) 0.0 else manifest.max.toDouble, "bytes")
    run.layer("txlog.log_bytes_per_commit") = (if (versions == 0) 0.0 else logBytes.toDouble / versions, "bytes")
    run.layer("txlog.checkpoints") = (checkpoints.toDouble, "count")
    run.layer("txlog.table_bytes_per_input_byte") =
      (if (inputBytes == 0) 0.0 else (logBytes + dataBytes).toDouble / inputBytes, "ratio")
  }
}
