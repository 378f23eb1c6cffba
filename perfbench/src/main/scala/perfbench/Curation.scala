package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

import scala.collection.mutable

/** The `curation` workload: repeated sweeps over a fixed set of registered
  * LLM-data queries at sf0.1, with the query-scope memos evicted before each
  * sweep so every sweep pays its first-toucher builds. Each query's result is
  * written as parquet (the timed action), and every written result is later
  * compared with the query's DuckDB oracle. The seed sets the order of the
  * queries in each sweep. */
object Curation {
  val Queries: Seq[String] = Seq(
    "q_bpe_train", "q_bpe_train_batched", "q_bpe_encode",
    "q_knn_kmeans", "q_knn_ivfpq", "q_ann_recall",
    "q_mm_knn", "q_dedup_clusters",
    "q_curation_pipeline", "q_chunk_pipeline", "q_admission_ledger")
  val MinSweeps = 3

  def run(run: Run): Unit = {
    val spark = run.spark
    val registry = graft.SparkEntry.queries
    val out = run.dir("curation")

    def exec(q: String, dir: String): Unit =
      registry(q)(spark, run.dataDir).write.mode("overwrite").parquet(dir)

    // ---------------------------------------------------------------- set-up
    // one untimed sweep: JIT, codegen and file caches, as a long-lived
    // session would have them
    val (_, warmMs) = run.tracer.timed("setup.warm_sweep") {
      Queries.foreach(q => exec(q, out.resolve(s"warm/$q").toString))
    }
    run.setupS = warmMs / 1000.0

    // ---------------------------------------------------------------- sweeps
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val jobs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val sweeps = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[String]
    val (_, _) = run.phase("sweep") {
      // whole sweeps only: at least MinSweeps, so the median has a middle,
      // then more while the run's length lasts
      val deadline = System.nanoTime() + run.seconds * 1000000000L
      var k = 0
      while (k < MinSweeps || System.nanoTime() < deadline) {
        graft.Caches.clearQueryMemos()
        val r = new SplittableRandom(run.seed * 0x9E3779B97F4A7C15L + k)
        val order = Queries.map(q => (r.nextLong(), q)).sorted.map(_._2)
        val (_, ms) = run.tracer.timed("curation.sweep") {
          order.foreach { q =>
            val dir = out.resolve(s"s$k/$q").toString
            val t0 = System.nanoTime()
            val ok =
              try { val (_, j) = run.jobsOf(run.tracer.timed(s"ext.$q")(exec(q, dir))); jobs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += j; true }
              catch { case e: Exception => System.out.println(s"failed op: $q: ${e.toString.linesIterator.next().take(300)}"); false }
            perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
            if (!ok) run.failed += 1
            ops += s"""{"query":${Main.json(q)},"sweep":$k,"path":${Main.json(dir)},"ok":$ok}"""
          }
        }
        sweeps += ms
        k += 1
      }
    }
    run.attempted = ops.length.toLong
    Files.write(out.resolve("ops.json"), ops.mkString("[", ",\n", "]").getBytes(UTF_8))

    val sweepS = Stats.median(sweeps.toSeq) / 1000.0
    run.report("curation_sweep_s") = (sweepS, "s")
    run.report("curation_sweeps") = (sweeps.length.toDouble, "count")
    run.endToEnd("throughput_per_s") = (ops.length / (sweeps.sum / 1000.0), "1/s")
    run.endToEnd("latency_ms") = (Stats.median(sweeps.toSeq), "ms")
    perQuery.foreach { case (q, xs) => run.layer(s"ext.${q}_s") = (Stats.median(xs.toSeq), "s") }
    if (run.counters.nonEmpty)
      jobs.foreach { case (q, xs) => run.layer(s"ext.${q}_jobs") = (Stats.median(xs.toSeq), "count") }
  }
}
