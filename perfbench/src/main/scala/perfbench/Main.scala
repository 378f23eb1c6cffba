package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE --data SFDIR`.
  * Writes the run's figures, counts and check results to FILE as one JSON
  * object; `run.py` turns that into the benchmark's result line. */
object Main {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** A wall-clock instant on the tracer's nanoTime scale. */
  def nanosOf(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  def json(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private def figures(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${json(k)}:{\"value\":${if (v.isNaN || v.isInfinite) "null" else v.toString},\"unit\":${json(u)}}" }
      .mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")).toAbsolutePath)
    val out = Paths.get(opt("out")).toAbsolutePath
    val dataDir = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    require(Set("medallion", "table_dml", "curation")(workload), s"unknown workload $workload")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .withExtensions(graft.functions.GraftExtensions.register)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val counters = if (trace) {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val tracer = new Tracer(trace)
    val run = new Run(spark, seed, seconds, tracer, counters, work, dataDir)
    try workload match {
      case "medallion" => Medallion.run(run)
      case "table_dml" => TableDml.run(run)
      case "curation" => Curation.run(run)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.errors += s"run aborted: $e"
    }
    System.err.println(f"perfbench: workload done at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
    run.endToEnd("setup_s") = (sessionS + run.setupS, "s")
    run.report("session_s") = (sessionS, "s")
    if (trace) tracer.write(work.resolve(s"trace-$workload-$seed.jsonl"), nano0)

    run.report.foreach { case (k, (v, u)) => println(f"report $workload $k = $v%.4f $u") }
    run.errors.take(20).foreach(e => println(s"check failed: $e"))
    val doc =
      s"""{"workload":${json(workload)},"seed":$seed,"correct":${run.errors.isEmpty},""" +
        s""""attempted":${run.attempted},"failed":${run.failed},""" +
        s""""errors":${run.errors.map(json).mkString("[", ",", "]")},""" +
        s""""end_to_end":${figures(run.endToEnd)},"per_layer":${figures(run.layer)},""" +
        s""""report":${figures(run.report)}}"""
    Files.write(out, doc.getBytes(UTF_8))
    spark.stop()
    System.err.println(f"perfbench: stopped at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")
  }
}
