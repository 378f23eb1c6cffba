package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLog

import Checks.Event

/** The `table_dml` workload: one closed-loop client on a TxLog table with
  * deletion vectors enabled, seeded from the sf0.1 events. Each round runs
  * the same multiset of operations in a seeded order; the run ends at the
  * first round boundary after `seconds`, so every run attempts whole rounds
  * and the share of failed operations is the same in every run.
  *
  * A plain-Scala model of the table applies the same operations; every read
  * and the final snapshot must equal it at the matching version. */
object TableDml {
  /** One round: 21 operations, shuffled except for the closing optimize. */
  val Round: Seq[String] =
    Seq.fill(4)("append") ++ Seq.fill(3)("delete_dv") ++ Seq.fill(3)("merge_dv") ++
      Seq.fill(4)("point_read") ++ Seq.fill(3)("scan_agg") ++ Seq.fill(2)("time_travel") ++
      Seq("optimize", "foreign_dv_read")
  val AppendRows = 200
  val DeleteSpan = 100L
  val MergeUpdates = 20
  val MergeInserts = 5
  val MergeSpan = 2000L
  val SeedFiles = 8
  val StagingReps = 3

  private def micros(t: Timestamp): Long =
    Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L), t.getNanos / 1000L)

  private def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def event(r: Row): Event =
    Event(r.getLong(0), micros(r.getTimestamp(1)), r.getLong(2), r.getString(3), r.getDouble(4), r.getString(5))

  private val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  /** The fixed foreign table: a stock-Delta layout of 100 rows whose
    * deletion vector hides rows 3, 17 and 42. The DV bytes come from the
    * RoaringBitmap library (`Roaring64NavigableMap.serializePortable`, the
    * 64-bit portable layout the Delta spec names), inline in the log. It
    * does not depend on the seed. */
  val ForeignDeleted: Seq[Long] = Seq(3L, 17L, 42L)

  def buildForeign(run: Run): Path = {
    val dir = run.dir("table_dml/foreign")
    val staged = run.work.resolve("table_dml/foreign_stage").toString
    run.spark.range(100).select(col("id"), (col("id") * 1.5).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(java.nio.file.Paths.get(staged)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get
    val data = dir.resolve("part-00000.parquet")
    Files.copy(part, data, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val bm = org.roaringbitmap.longlong.Roaring64NavigableMap.bitmapOf(ForeignDeleted: _*)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Integer.reverseBytes(1681511377)) // RoaringBitmapArray magic, little-endian
    bm.serializePortable(out)
    out.flush()
    val dv = bos.toByteArray
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", DoubleType))).json
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val log = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"6f1d3c2a-0b7e-4c1e-9a55-perfbench000","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${q(schema)},"partitionColumns":[],"configuration":{"delta.enableDeletionVectors":"true"},"createdTime":0}}""",
      s"""{"add":{"path":"part-00000.parquet","partitionValues":{},"size":${Files.size(data)},"modificationTime":0,""" +
        s""""dataChange":true,"stats":${q("""{"numRecords":100}""")},"deletionVector":{"storageType":"i",""" +
        s""""pathOrInlineDv":${q(Z85.encode(dv))},"sizeInBytes":${dv.length},"cardinality":${ForeignDeleted.size}}}}""")
    val logDir = Files.createDirectories(dir.resolve("_delta_log"))
    Files.write(logDir.resolve("00000000000000000000.json"), log.mkString("", "\n", "\n").getBytes(UTF_8))
    dir
  }

  private def rootCause(e: Throwable): Throwable =
    Option(e.getCause).filter(_ ne e).map(rootCause).getOrElse(e)

  /** The fault `foreign_dv_read` exists to show: the program's roaring
    * parser meets the 4-byte key of the portable layout where it expects a
    * bitmap cookie. Any other failure of that op is a check failure. */
  def knownFault(kind: String, e: Throwable): Boolean =
    kind == "foreign_dv_read" && String.valueOf(rootCause(e).getMessage).contains("roaring: unknown cookie")

  def run(run: Run): Unit = {
    val spark = run.spark
    val table = run.work.resolve("table_dml/table")
    val tableStr = table.toString

    // ---------------------------------------------------------------- set-up
    val stageMs = mutable.ArrayBuffer.empty[Double]
    (0 until StagingReps).foreach { k =>
      val dir = if (k == StagingReps - 1) tableStr else run.work.resolve(s"table_dml/stage_$k").toString
      stageMs += run.tracer.timed("setup.seed") {
        val ev = graft.Tables.events(spark, run.dataDir).select(cols.map(col): _*)
        TxLog.commitAppend(ev.repartitionByRange(SeedFiles, col("event_id")), dir)
        TxLog.setTableProperties(spark, dir, Map("delta.enableDeletionVectors" -> "true"))
      }._2
    }
    val (foreign, foreignMs) = run.tracer.timed("setup.foreign")(buildForeign(run))
    // the model starts from the seed input itself, not from the table
    val (model, modelMs) = run.tracer.timed("setup.model") {
      val m = mutable.HashMap.empty[Long, Event]
      graft.Tables.events(spark, run.dataDir).select(cols.map(col): _*).collect()
        .foreach(r => { val e = event(r); m(e.id) = e })
      m
    }
    run.setupS = (Stats.median(stageMs.toSeq) + foreignMs + modelMs) / 1000.0
    run.report("setup_seed_ms") = (Stats.median(stageMs.toSeq), "ms")
    val schema = TxLog.snapshot(spark, tableStr).schema
    val kinds = model.values.map(_.kind).toSeq.distinct.sorted
    val inputBytes = model.values.iterator.map(_.toString.length.toLong).sum
    var nextId = model.keys.max + 1
    val tsLo = model.values.iterator.map(_.tsMicros).min
    val tsSpan = model.values.iterator.map(_.tsMicros).max - tsLo + 1
    val versions = mutable.ArrayBuffer.empty[(Long, Map[String, (Long, Double)])]
    def recordVersion(v: Long): Unit = versions += (v -> Checks.aggregate(model.values))
    recordVersion(TxLog.currentVersion(tableStr).get)

    def newEvent(r: SplittableRandom, id: Long): Event =
      Event(id, tsLo + r.nextLong(tsSpan), r.nextLong(5000), kinds(r.nextInt(kinds.size)),
        r.nextInt(100000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")

    def frame(es: Seq[Event]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(es.map(e =>
        Row(e.id, timestamp(e.tsMicros), e.user, e.kind, e.value, e.props)): _*), schema)

    def liveIdsIn(lo: Long, hi: Long): Seq[Long] = model.keysIterator.filter(id => id >= lo && id < hi).toSeq.sorted

    val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val snapMs = mutable.ArrayBuffer.empty[Double]
    val actionMs = mutable.ArrayBuffer.empty[Double]
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val touched = mutable.ArrayBuffer.empty[Long]
    val skipped = mutable.ArrayBuffer.empty[Long]

    /** snapshot()/snapshotAt() call and the action on it, timed apart. */
    def read[T](snapshot: => DataFrame)(action: DataFrame => T): T = {
      val (df, s) = run.tracer.timed("txlog.snapshot")(snapshot)
      val (r, a) = run.tracer.timed("txlog.action")(action(df))
      snapMs += s; actionMs += a
      r
    }

    def aggregateOf(df: DataFrame): Map[String, (Long, Double)] =
      df.groupBy(col("event_type")).agg(count(lit(1)), sum(col("value"))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

    /** `at` in [0, 1) places the op's key range or version: the j-th of a
      * round's c ops of one kind draws it from [j/c, (j+1)/c), so every round
      * spreads each kind over the whole table and rounds cost the same
      * whatever the seed. */
    def op(kind: String, r: SplittableRandom, at: Double): Unit = kind match {
      case "append" =>
        val es = (0 until AppendRows).map(i => newEvent(r, nextId + i))
        nextId += AppendRows
        val (v, ms) = run.tracer.timed("txlog.commit")(TxLog.commitAppend(frame(es), tableStr))
        commitMs += ms
        es.foreach(e => model(e.id) = e)
        recordVersion(v)
      case "delete_dv" =>
        val lo = (at * (nextId - DeleteSpan)).toLong
        val hi = lo + DeleteSpan - 1
        val res = TxLog.deleteWhereDv(spark, tableStr, col("event_id").between(lo, hi),
          Seq(("event_id", lo, hi)))
        touched += res.filesRewritten; skipped += res.filesSkipped
        (lo to hi).foreach(model.remove)
        recordVersion(res.version)
      case "merge_dv" =>
        val lo = (at * (nextId - MergeSpan)).toLong
        val pool = liveIdsIn(lo, lo + MergeSpan)
        val upd = (0 until math.min(MergeUpdates, pool.size)).map(_ => pool(r.nextInt(pool.size))).distinct
          .map(id => model(id).copy(value = r.nextInt(100000) / 100.0, props = s"""{"k": ${r.nextInt(100)}}"""))
        val ins = (0 until MergeInserts).map(i => newEvent(r, nextId + i))
        nextId += MergeInserts
        val res = TxLog.mergeIntoDv(spark, tableStr, frame(upd ++ ins), Seq("event_id"))
        touched += res.filesRewritten; skipped += res.filesSkipped
        (upd ++ ins).foreach(e => model(e.id) = e)
        recordVersion(res.version)
      case "point_read" =>
        val id = (at * nextId).toLong
        val got = read(TxLog.snapshot(spark, tableStr))(_.filter(col("event_id") === id).collect())
        run.check(Checks.sameRows(s"point read of $id", model.get(id).toSeq, got.map(event).toSeq))
      case "scan_agg" =>
        val got = read(TxLog.snapshot(spark, tableStr))(aggregateOf)
        run.check(Checks.sameAggregate("aggregate scan", Checks.aggregate(model.values), got))
      case "time_travel" =>
        val (v, expected) = versions((at * versions.size).toInt)
        val got = read(TxLog.snapshotAt(spark, tableStr, v))(aggregateOf)
        run.check(Checks.sameAggregate(s"time travel to version $v", expected, got))
      case "optimize" =>
        val res = TxLog.optimize(spark, tableStr)
        recordVersion(res.version)
      case "foreign_dv_read" =>
        val n = spark.read.format("graft-txlog").load(foreign.toString).count()
        run.check(if (n == 100 - ForeignDeleted.size) Nil
          else Seq(s"foreign DV table: $n rows visible, expected ${100 - ForeignDeleted.size}"))
    }

    // ---------------------------------------------------------------- rounds
    var ops = 0L
    val failures = mutable.LinkedHashMap.empty[String, String]
    val knownFailures = mutable.LinkedHashMap.empty[String, String]
    val (_, elapsedS) = run.phase("dml") {
      val deadline = System.nanoTime() + run.seconds * 1000000000L
      var round = 0L
      while (round == 0 || System.nanoTime() < deadline) {
        val r = new SplittableRandom(run.seed * 0x9E3779B97F4A7C15L + round)
        // optimize closes the round, as periodic maintenance would: where it
        // fell in a shuffled round set how many small files the other ops met
        val order = Round.filter(_ != "optimize").zipWithIndex
          .map { case (k, i) => (r.nextLong(), i, k) }.sorted.map(_._3) :+ "optimize"
        val seen = mutable.HashMap.empty[String, Int]
        order.foreach { kind =>
          val j = seen.getOrElse(kind, 0)
          seen(kind) = j + 1
          val at = (j + r.nextDouble()) / Round.count(_ == kind)
          ops += 1
          val t0 = System.nanoTime()
          val ok =
            try { run.tracer.timed(s"dml.$kind")(op(kind, r, at)); true }
            catch {
              case e: Exception =>
                val msg = s"$kind: ${rootCause(e).toString.linesIterator.next().take(300)}"
                if (knownFault(kind, e)) knownFailures.getOrElseUpdate(kind, msg)
                else failures.getOrElseUpdate(kind, msg)
                false
            }
          if (!ok) run.failed += 1
          // foreign_dv_read stays out of the latency figures whether or not it
          // fails: it reads another table, so it is not part of the mix's cost
          else if (kind != "foreign_dv_read")
            lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
        }
        round += 1
      }
    }
    run.attempted = ops
    knownFailures.values.foreach(f => System.out.println(s"failed op, known fault (first of its kind): $f"))

    // ------------------------------------------------------------- figures
    run.report("dml_ops_per_s") = (ops / elapsedS, "1/s")
    Seq("append", "delete_dv", "merge_dv", "point_read", "scan_agg", "time_travel", "optimize").foreach { k =>
      lat.get(k).foreach(xs => run.report(s"${k}_p50_ms") = (Stats.median(xs.toSeq), "ms"))
    }
    run.reportLatency("dml_latency", lat.values.flatten.toSeq)
    run.endToEnd("throughput_per_s") = (ops / elapsedS, "1/s")
    // one figure for a mix whose kinds differ 6x in cost: the geometric mean
    // of the per-kind medians of the user-facing kinds (not the closing
    // optimize). The median of the pooled sample falls in the gap between
    // two kinds' clusters and jumps between them from run to run
    val medians = lat.filter(_._1 != "optimize").values.map(xs => Stats.median(xs.toSeq))
    if (medians.nonEmpty) run.endToEnd("latency_ms") = (math.exp(medians.map(math.log).sum / medians.size), "ms")
    run.layerP50("txlog.commit_ms", commitMs.toSeq)
    run.layerP50("txlog.snapshot_ms", snapMs.toSeq)
    run.layerP50("txlog.action_ms", actionMs.toSeq)
    val dmlOps = touched.size.max(1)
    run.layer("dv.files_touched_per_op") = (touched.sum.toDouble / dmlOps, "count")
    run.layer("dv.files_skipped_per_op") = (skipped.sum.toDouble / dmlOps, "count")
    val isDv = (f: Path) => f.getFileName.toString.startsWith("deletion_vector_")
    run.layer("dv.files") = (TableFiles.count(table, isDv).toDouble, "count")
    run.layer("dv.bytes") = (TableFiles.bytes(table, isDv).toDouble, "bytes")
    TableFiles.layerFigures(run, Seq(table), inputBytes)

    // -------------------------------------------------------------- checks
    val finalRows = TxLog.snapshot(spark, tableStr).collect().map(event).toSeq
    run.check(Checks.sameRows("final snapshot", model.values.toSeq, finalRows))
    run.errors ++= failures.values
  }
}

/** ZeroMQ Z85 (the Delta spec's inline-DV encoding), zero-padded to 4 bytes. */
object Z85 {
  private val alphabet =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"

  def encode(bytes: Array[Byte]): String = {
    val padded = bytes ++ Array.fill[Byte]((4 - bytes.length % 4) % 4)(0)
    padded.grouped(4).map { b =>
      var v = 0L
      b.foreach(x => v = (v << 8) | (x & 0xFFL))
      (4 to 0 by -1).map(i => alphabet((v / math.pow(85, i).toLong % 85).toInt)).mkString
    }.mkString
  }
}
