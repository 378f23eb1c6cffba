package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.gold.GoldRollup
import graft.ingest.Bronze
import graft.ml.PriceModel
import graft.sources.TxLog
import graft.streaming.Streams

import Checks.{GoldRow, SilverRow, Trade}

/** The `medallion` workload: landing → bronze → silver → gold, first as a
  * backfill of staged trades, then live under an open-loop generator.
  *
  * Live inputs: one generator thread writes one JSON-lines file per tick
  * into the landing directory (the stand-in for a Kafka topic), on a fixed
  * schedule that does not slow when the pipeline does. Every trade of tick
  * `i` is created at the tick's due time; the first trade of a tick carries
  * that time as its event time, and each later one is, with probability
  * `OutOfOrderShare`, stamped 1–20 s earlier (out of order, but inside the
  * one-minute watermark, so no trade may be dropped).
  *
  * Freshness is measured per tick: a tick is visible in silver when the
  * silver commit that first holds its on-time trade ends, and in gold when
  * the first gold refresh reading such a silver version ends. Both are
  * taken from the tick's due time, so a stalled pipeline charges the wait
  * to every tick that queued behind it. */
object Medallion {
  val Symbols = 8
  val TickMs = 100L
  val TradesPerTick = 8
  val OutOfOrderShare = 0.10
  val MaxLatenessMs = 20000L
  /** The backfill drains in AvailableNow runs of 150k trades, oldest first:
    * an untimed warm-up drain (part of set-up: the JIT compiles the parse,
    * aggregate and write paths), then four timed drains. Its rate is the
    * median of the four. */
  val DrainRows = 150000
  val BackfillDrains = 4
  val BackfillRows: Int = (BackfillDrains + 1) * DrainRows
  val BackfillFilesPerDrain = 4

  /** Backfill positions of drain `d`; drain 0 is the warm-up. */
  def drainRange(d: Int): Range = d * DrainRows until (d + 1) * DrainRows
  val BackfillSpanMs: Long = 20 * 60 * 1000L
  /** Live ticks due in the first WarmupMs are not sampled: the restarted
    * streams plan and compile their first batches then. */
  val WarmupMs = 3000L
  val StagingReps = 3

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  def jsonLine(t: Trade): String =
    s"""{"symbol":"${Checks.symbolName(t.sym)}","price":${t.cents / 100.0},"quantity":${t.qty.toDouble},""" +
      s""""timestamp":"${tsFormat.format(Instant.ofEpochMilli(t.tsMs))}"}"""

  /** Trades as a pure function of (seed, position): each symbol has its own
    * price level and spread, so the silver volatility varies by symbol and
    * the price model has a slope to fit. */
  final class Gen(seed: Long) {
    private val r0 = new SplittableRandom(seed)
    private val base = Array.fill(Symbols)(2000L + r0.nextInt(48000))
    private val spread = Array.fill(Symbols)(0.002 + 0.018 * r0.nextDouble())

    private def trade(r: SplittableRandom, tsMs: Long): Trade = {
      val s = r.nextInt(Symbols)
      val cents = math.max(100L, math.round(base(s) * (1 + spread(s) * r.nextGaussian())))
      Trade(s, tsMs, cents, 1 + r.nextInt(100))
    }

    def tick(i: Long, dueMs: Long): Seq[Trade] = {
      val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)
      (0 until TradesPerTick).map { j =>
        val late =
          if (j > 0 && r.nextDouble() < OutOfOrderShare) 1000L + r.nextLong(MaxLatenessMs - 999L)
          else 0L
        trade(r, dueMs - late)
      }
    }

    def backfill(startMs: Long): Array[Trade] = {
      val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
      val step = BackfillSpanMs.toDouble / BackfillRows
      Array.tabulate(BackfillRows)(i => trade(r, startMs + (i * step).toLong))
    }
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** Write lines as one file that appears in `dir` atomically. */
  private def land(dir: Path, tmp: Path, name: String, lines: Iterator[String]): Long = {
    val sb = new java.lang.StringBuilder()
    lines.foreach(l => sb.append(l).append('\n'))
    val bytes = sb.toString.getBytes(UTF_8)
    val t = tmp.resolve(name)
    Files.write(t, bytes)
    Files.move(t, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  private val silverSchema = StructType(Seq(
    StructField("window_start", TimestampType), StructField("window_end", TimestampType),
    StructField("symbol", StringType), StructField("volatility", DoubleType),
    StructField("average_price", DoubleType), StructField("processed_time", TimestampType),
    StructField("predicted_price", DoubleType), StructField("batch_id", LongType)))

  private def silverRow(r: Row): SilverRow = SilverRow(
    r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getString(2), r.getDouble(3),
    r.getDouble(4), r.getTimestamp(5).getTime, r.getDouble(6), r.getLong(7))

  private def goldRow(r: Row): GoldRow = GoldRow(r.getString(0), r.getTimestamp(1).getTime,
    r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))

  final case class SilverBatch(endMs: Long, predictMs: Double, commitMs: Double, bodyMs: Double)

  def run(run: Run): Unit = {
    val spark = run.spark
    val gen = new Gen(run.seed)
    val tmp = run.dir("medallion/landing_tmp")
    val bronzeDir = run.work.resolve("medallion/bronze")
    val silverDir = run.work.resolve("medallion/silver")
    val ckptB = run.work.resolve("medallion/ckpt_bronze").toString
    val ckptS = run.work.resolve("medallion/ckpt_silver").toString

    // ---------------------------------------------------------------- set-up
    val anchor = System.currentTimeMillis()
    // stage the backfill several times (fresh landing dirs) and keep the
    // last: set-up time is then a median, not one noisy write. Staged files
    // are deleted while still young: on a disk mounted with online discard,
    // deleting tens of MB once written back takes seconds
    val stageMs = mutable.ArrayBuffer.empty[Double]
    val landing = run.dir("medallion/landing")
    var staged: Path = null
    var backfill: Array[Trade] = null
    var inputBytes = 0L
    def drainFiles(d: Int): Seq[String] = (0 until BackfillFilesPerDrain).map(f => f"backfill-$d-$f%02d.json")
    (0 until StagingReps).foreach { k =>
      if (staged != null) deleteTree(staged)
      val (_, ms) = run.tracer.timed("setup.stage") {
        staged = run.dir(s"medallion/staged_$k")
        backfill = gen.backfill(anchor - 2 * 60 * 1000L - BackfillSpanMs)
        inputBytes = (0 to BackfillDrains).flatMap { d =>
          drainFiles(d).zipWithIndex.map { case (name, f) =>
            land(staged, tmp, name, drainRange(d).iterator
              .filter(_ % BackfillFilesPerDrain == f).map(i => jsonLine(backfill(i))))
          }
        }.sum
      }
      stageMs += ms
    }
    val (model, trainMs) = run.tracer.timed("setup.train") {
      val trades = Bronze.parseTrades(spark.read.text(drainFiles(0).map(n => staged.resolve(n).toString): _*))
        .select(col("timestamp").as("ts"), col("symbol").as("event_type"), col("price").as("value"))
      PriceModel.saveAndLoad(PriceModel.train(PriceModel.trainingSet(trades)),
        run.work.resolve("medallion/model").toString)
    }
    val slope = model.coefficients(0)
    val intercept = model.intercept

    // ------------------------------------------------------------ pipeline
    val batches = new ConcurrentLinkedQueue[SilverBatch]()
    // silver version -> newest event time committed up to it
    val versionMaxTs = new java.util.concurrent.ConcurrentSkipListMap[java.lang.Long, java.lang.Long]()
    val maxTsSoFar = new AtomicLong(Long.MinValue)
    val liveStart = new AtomicLong(Long.MaxValue)
    val silverDone = new ConcurrentHashMap[Long, Long]() // tick -> visible-in-silver ms
    val silverCovered = new AtomicLong(-1)

    def tickOf(tsMs: Long): Long =
      if (tsMs < liveStart.get) -1L else (tsMs - liveStart.get) / TickMs

    def silverBatch(b: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      val lo = silverCovered.get + 1
      val bars = b.select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("event_type").as("symbol"), col("volatility"), col("average_price"),
          col("processed_time"))
        .na.fill(0.0, Seq("volatility"))
      // the predicted frame is committed as it stands, as the program's own
      // silver stream writes its batch frame. It is cached, so that the action
      // reading the batch's size and newest event time (which runs the
      // stateful window aggregate and the predict) is not repeated by the commit
      val predicted = PriceModel.withPrediction(bars, Some(model))
        .select(col("window_start"), col("window_end"), col("symbol"), col("volatility"),
          col("average_price"), col("processed_time"), col("predicted_price"),
          lit(id).as("batch_id"))
        .persist()
      try {
        val (stats, predictMs) = run.tracer.timed("ml.predict") {
          predicted.agg(count(lit(1)), max(col("processed_time"))).head()
        }
        if (stats.getLong(0) > 0) {
          val (ver, commitMs) = run.tracer.timed("txlog.commit") {
            TxLog.commitAppendOnce(predicted, silverDir.toString, "perfbench-silver", id)
          }
          val endMs = System.currentTimeMillis()
          val maxTs = math.max(maxTsSoFar.get, stats.getTimestamp(1).getTime)
          maxTsSoFar.set(maxTs)
          ver.foreach(v => versionMaxTs.put(v, maxTs))
          val hi = tickOf(maxTs)
          (lo to hi).foreach(t => silverDone.put(t, endMs))
          if (hi >= lo) { silverCovered.set(hi); run.tracer.tagTicks(lo, hi) }
          batches.add(SilverBatch(endMs, predictMs, commitMs, (System.nanoTime() - t0) / 1e6))
        }
      } finally predicted.unpersist()
    }

    def startBronze(trigger: Trigger): StreamingQuery =
      Bronze.parseTrades(spark.readStream.format("text").load(landing.toString))
        .writeStream.format("graft-txlog")
        .option("path", bronzeDir.toString)
        .option("checkpointLocation", ckptB)
        .option("txnAppId", "perfbench-bronze")
        .trigger(trigger)
        .start()

    def startSilver(trigger: Trigger): StreamingQuery =
      spark.readStream.format("graft-txlog").option("path", bronzeDir.toString).load()
        .select(col("timestamp").as("ts"), col("symbol").as("event_type"), col("price").as("value"))
        .transform(Streams.silverTransform)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckptS)
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) => run.tracer.timed("silver.batch")(silverBatch(b, id)); () }
        .start()

    val snapshotMs = new ConcurrentLinkedQueue[Double]()
    val rollupMs = new ConcurrentLinkedQueue[Double]()
    val goldDone = new ConcurrentHashMap[Long, Long]()
    val goldCovered = new AtomicLong(-1)
    val lastGold = new AtomicReference[(Long, Array[Row])]((0L, Array.empty))

    def goldRefresh(v: Long): Unit = {
      val lo = goldCovered.get + 1
      val (df, sMs) = run.tracer.timed("txlog.snapshot")(TxLog.snapshotAt(spark, silverDir.toString, v))
      val (rows, rMs) = run.tracer.timed("gold.rollup") {
        GoldRollup.rollup(df, "symbol", "processed_time", "average_price").collect()
      }
      val endMs = System.currentTimeMillis()
      snapshotMs.add(sMs)
      rollupMs.add(rMs)
      lastGold.set((v, rows))
      Option(versionMaxTs.floorEntry(v)).foreach { e =>
        val hi = tickOf(e.getValue)
        (lo to hi).foreach(t => goldDone.put(t, endMs))
        if (hi >= lo) { goldCovered.set(hi); run.tracer.tagTicks(lo, hi) }
      }
    }

    /** The newest silver version whose commit call has returned. Gold reads
      * no version before that: a version is visible in the log while its
      * commit still writes the Delta mirror, and only once the call returns
      * is the version's newest event time known. A gold refresh of a version
      * seen early in the log would credit it with too few ticks, and after
      * the last tick no later version would come to make up for it. */
    def currentSilver(): Long = Option(versionMaxTs.lastEntry()).map(_.getKey.longValue).getOrElse(0L)

    def withStatePartitions[T](f: => T): T = {
      // the silver state store is sized once, by the first batch, and kept in
      // the checkpoint: 2 partitions, the program's own choice for its streams
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    // ------------------------------------------------------------- backfill
    def drain(d: Int): Double = {
      drainFiles(d).foreach(n => Files.move(staged.resolve(n), landing.resolve(n), StandardCopyOption.ATOMIC_MOVE))
      run.tracer.timed("backfill.drain") {
        run.tracer.timed("backfill.bronze")(startBronze(Trigger.AvailableNow()).awaitTermination())
        run.tracer.timed("backfill.silver")(withStatePartitions(startSilver(Trigger.AvailableNow()).awaitTermination()))
        run.tracer.timed("backfill.gold")(goldRefresh(currentSilver()))
      }._2 / 1000.0
    }
    val warmS = drain(0)
    run.setupS = (Stats.median(stageMs.toSeq) + trainMs) / 1000.0 + warmS
    run.report("setup_stage_ms") = (Stats.median(stageMs.toSeq), "ms")
    run.report("setup_train_ms") = (trainMs, "ms")
    run.report("setup_warm_drain_ms") = (warmS * 1000, "ms")
    val (drainS, backfillS) = run.phase("backfill")((1 to BackfillDrains).map(drain))
    val backfillRate = Stats.median(drainS.map(DrainRows / _))
    // the file source remembers what it read; the staged backfill is done with
    (0 to BackfillDrains).flatMap(drainFiles).foreach(n => Files.delete(landing.resolve(n)))
    run.report("backfill_rows_per_s") = (backfillRate, "rows/s")

    // ----------------------------------------------------------------- live
    val liveMs = math.max(run.seconds * 1000L - (backfillS * 1000).toLong, run.seconds * 500L)
    val nTicks = liveMs / TickMs
    val liveTrades = new ConcurrentLinkedQueue[Trade]()
    val writtenAt = new Array[Long](nTicks.toInt)
    val lateMax = new AtomicLong(0)
    @volatile var stopGold = false
    val (_, _) = run.phase("live") {
      val bq = startBronze(Trigger.ProcessingTime(0L))
      val sq = startSilver(Trigger.ProcessingTime(0L))
      val goldThread = new Thread(() => {
        var last = currentSilver()
        while (!stopGold) {
          val v = currentSilver()
          if (v > last) { run.tracer.timed("gold.refresh")(goldRefresh(v)); last = v }
          else Thread.sleep(5)
        }
      }, "perfbench-gold")
      liveStart.set(System.currentTimeMillis() + 200)
      val generator = new Thread(() => {
        var i = 0L
        while (i < nTicks) {
          val due = liveStart.get + i * TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          lateMax.accumulateAndGet(System.currentTimeMillis() - due, math.max)
          val ts = gen.tick(i, due)
          ts.foreach(liveTrades.add)
          land(landing, tmp, f"tick-$i%06d.json", ts.iterator.map(jsonLine))
          writtenAt(i.toInt) = System.currentTimeMillis()
          i += 1
        }
      }, "perfbench-generator")
      goldThread.start()
      generator.start()
      generator.join()
      // drain: every tick must reach gold before the streams stop
      val deadline = System.currentTimeMillis() + 60000
      while (goldCovered.get < nTicks - 1 && System.currentTimeMillis() < deadline &&
          bq.exception.isEmpty && sq.exception.isEmpty) Thread.sleep(10)
      stopGold = true
      goldThread.join()
      sq.stop(); bq.stop()
      Seq(bq, sq).foreach(q => q.exception.foreach(e => run.errors += s"stream ${q.name}: $e"))
      if (goldCovered.get < nTicks - 1)
        run.errors += s"gold saw ticks up to ${goldCovered.get} of ${nTicks - 1} within 60 s of the last tick " +
          s"(silver saw up to ${silverCovered.get})"
      // bronze batch spans, joined to the ticks landed before each started
      var tickLo = 0L
      bq.recentProgress.filter(_.numInputRows > 0).foreach { p =>
        val startMs = Instant.parse(p.timestamp).toEpochMilli
        val hi = writtenAt.lastIndexWhere(w => w > 0 && w <= startMs).toLong
        val endMs = startMs + p.durationMs.get("triggerExecution").longValue()
        run.tracer.record("ingest.batch", Main.nanosOf(startMs), Main.nanosOf(endMs),
          if (hi >= tickLo) (tickLo, hi) else (-1L, -1L))
        if (hi >= tickLo) tickLo = hi + 1
      }
      // streaming progress of the live phase, as layer figures
      def dur(q: StreamingQuery, k: String): Seq[Double] =
        q.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > 0)
          .flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue())).toSeq
      run.layerP50("ingest.batch_ms", dur(bq, "triggerExecution"))
      run.layerP50("ingest.addBatch_ms", dur(bq, "addBatch"))
      run.layerP50("ingest.latestOffset_ms", dur(bq, "latestOffset"))
      run.layerP50("ingest.rows_per_batch",
        bq.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows.toDouble).toSeq, "rows")
      run.layerP50("streaming.latestOffset_ms", dur(sq, "latestOffset"))
      run.layerP50("streaming.queryPlanning_ms", dur(sq, "queryPlanning"))
      run.layerP50("streaming.walCommit_ms", dur(sq, "walCommit"))
      run.layerP50("streaming.addBatch_ms", dur(sq, "addBatch"))
      val state = sq.recentProgress.filter(_.numInputRows > 0).flatMap(_.stateOperators.headOption)
      run.layer("streaming.state_rows") = (state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
      run.layerP50("streaming.state_commit_ms", state.map(_.commitTimeMs.toDouble).toSeq)
    }

    // ------------------------------------------------------------- figures
    val t0 = liveStart.get
    val sampled = (0L until nTicks).filter(i => i * TickMs >= WarmupMs)
    def lat(done: ConcurrentHashMap[Long, Long]): Seq[Double] =
      sampled.flatMap(i => Option(done.get(i)).map(d => (d - (t0 + i * TickMs)).toDouble))
    val silverLat = lat(silverDone)
    val goldLat = lat(goldDone)
    run.reportLatency("silver_latency", silverLat)
    run.reportLatency("gold_latency", goldLat)
    run.endToEnd("throughput_per_s") = (backfillRate, "1/s")
    if (goldLat.nonEmpty) run.endToEnd("latency_ms") = (Stats.median(goldLat), "ms")
    run.layer("gen.late_max_ms") = (lateMax.get.toDouble, "ms")

    val live = batches.asScala.toSeq.filter(_.endMs >= t0)
    run.layerP50("silver.batch_ms", live.map(_.bodyMs))
    run.layerP50("silver.commit_ms", live.map(_.commitMs))
    run.layerP50("ml.predict_ms", live.map(_.predictMs))
    run.layerP50("txlog.commit_ms", live.map(_.commitMs))
    run.layerP50("txlog.snapshot_ms", snapshotMs.asScala.toSeq)
    run.layerP50("txlog.action_ms", rollupMs.asScala.toSeq)
    run.layerP50("gold.rollup_ms", rollupMs.asScala.toSeq)
    run.layer("gold.refreshes") = (rollupMs.size.toDouble, "count")
    val liveBytes = liveTrades.asScala.iterator.map(t => jsonLine(t).length + 1L).sum
    TableFiles.layerFigures(run, Seq(bronzeDir, silverDir), inputBytes + liveBytes)

    // -------------------------------------------------------------- checks
    val all = backfill.toSeq ++ liveTrades.asScala
    run.attempted = all.length.toLong
    val bronzeGot = TxLog.snapshot(spark, bronzeDir.toString)
      .groupBy(col("symbol"))
      .agg(count(lit(1)), sum(round(col("price") * 100).cast("long")), sum(col("quantity").cast("long")))
      .collect().map(r => r.getString(0) -> Checks.Totals(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    run.check(Checks.bronze(Checks.totals(all), bronzeGot))
    val silverRows = TxLog.snapshot(spark, silverDir.toString).select(silverSchema.fieldNames.map(col): _*)
      .collect().map(silverRow).toSeq
    run.check(Checks.silver(all, silverRows))
    run.check(Checks.predictions(silverRows, intercept, slope))
    val (gv, goldRows) = lastGold.get
    val read = TxLog.snapshotAt(spark, silverDir.toString, gv).select(silverSchema.fieldNames.map(col): _*)
      .collect().map(silverRow).toSeq
    run.check(Checks.gold(read, goldRows.map(goldRow).toSeq))
  }
}
