package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.GraftSession
import graft.cdc.{CdcPipeline, PipelineOptions}
import graft.gen.GenConfig
import graft.model.Schemas
import graft.table.SnapTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The benchmark's JVM side: runs one workload against the engine through
 * its public functions and writes the raw samples as JSON. Statistics,
 * metric names and the result line are made by `run.py`.
 *
 * usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputsDir> <workDir> <out.json>
 *        perfbench.Main --generate <seed> <inputsDir> <workDir>
 */
object Main {

  val Cores = 4
  val Buckets = 32

  final class Run(val workload: String, val seed: Long, val seconds: Double,
      val traced: Boolean, val inputs: String, val work: Path) {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val setupReps = ArrayBuffer.empty[Double]
    var tracer: Option[Tracer] = None

    /** A correctness gate: mismatches found, with a sample of them. */
    def check(name: String, result: (Long, String)): Unit =
      checks += Map("name" -> name, "ok" -> (result._1 == 0), "mismatches" -> result._1,
        "sample" -> result._2)

    /** One attempted operation; an exception counts it failed. */
    def op[A](body: => A): Option[A] = {
      attempted += 1
      try Some(body) catch {
        case NonFatal(t) =>
          failed += 1
          System.err.println(s"[perfbench] operation failed: $t")
          None
      }
    }

    def span[A](name: String, layer: String, request: String)(body: => A): A =
      tracer match {
        case Some(t) => t.span(name, layer, request)(body)
        case None => body
      }

    def fs: Map[String, Long] = if (traced) CountingFs.snapshot() else Map.empty
    def tasks: Map[String, Long] = tracer.map(_.counters.snapshot()).getOrElse(Map.empty)
  }

  /** Generate the seed's changelog unless it is cached; starts Spark only
    * if it is not. */
  def generate(seed: Long, inputs: String, work: Path): Unit = {
    val cfg = Logs.config(seed)
    if (Inputs.cached(cfg, inputs)) return
    val spark = GraftSession.builder(Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString).getOrCreate()
    try Inputs.generate(spark, cfg, inputs) finally spark.stop()
    Inputs.deleteTree(work)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--generate")) {
      generate(args(1).toLong, args(2), Paths.get(args(3)))
      return
    }
    require(args.length == 7,
      "usage: Main <workload> <seed> <seconds> <trace> <inputs> <work> <out>")
    val run = new Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), Paths.get(args(5)))
    Inputs.deleteTree(run.work)
    Files.createDirectories(run.work)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = GraftSession.builder(Cores)
      .config("spark.local.dir", run.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.work.resolve("warehouse").toString)
    if (run.traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (run.traced) {
      val t = new Tracer(spark)
      t.install()
      run.tracer = Some(t)
    }
    run.out("session_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      run.workload match {
        case "backfill" => Backfill(spark, run)
        case "follow" => Follow(spark, run)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      run.tracer.foreach { t =>
        t.drain()
        run.out("spans") = t.allSpans
        run.out("accounting_ms") = t.accountingMs.toArray.toSeq
        run.out("write_exec") = t.writeExecMs.toArray.toSeq.map { case (end, ms) =>
          Seq(end, ms) }
        run.out("sort_fallback_tasks") = t.sortFallbacks.get
      }
    } finally {
      run.out("workload") = run.workload
      run.out("seed") = run.seed
      run.out("attempted") = run.attempted
      run.out("failed") = run.failed
      run.out("checks") = run.checks.toSeq
      run.out("setup_reps_s") = run.setupReps.toSeq
      run.out("peak_rss_mb") = peakRssMb()
      import org.json4s._
      import org.json4s.jackson.Serialization
      implicit val fmts: Formats = Serialization.formats(NoTypeHints)
      Files.writeString(Paths.get(args(6)), Serialization.write(run.out.toMap))
      spark.stop()
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- correctness reference ----------------------------------------------

  /** Every change event of the given chunk directories. */
  def changes(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(Schemas.envelope).option("recursiveFileLookup", "true")
      .parquet(dirs: _*)

  /** Independent last-writer-wins state: per (conv_id, turn_idx) the event
    * with the greatest (ts, lsn); keys whose winner is a delete are absent.
    * A window over the raw changelog — no engine reducer is involved. */
  def reference(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id", "turn_idx")
      .orderBy(col("ts").desc, col("lsn").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .select("conv_id", "turn_idx", "text")
  }

  /** Keys missing on either side or whose `text` differs, with a sample. */
  def mismatches(actual: DataFrame, expected: DataFrame): (Long, String) = {
    val a = actual.select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
      col("text").as("__a"), lit(true).as("__ina"))
    val e = expected.select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
      col("text").as("__e"), lit(true).as("__ine"))
    val bad = a.join(e, Seq("conv_id", "turn_idx"), "full_outer")
      .filter(col("__ina").isNull || col("__ine").isNull || !(col("__a") <=> col("__e")))
      .cache()
    try (bad.count(), bad.limit(3).collect().map(_.toString).mkString("; "))
    finally bad.unpersist()
  }

  /** Order-independent checksum of every column of a table read, so the
    * scan cannot be pruned to a subset of columns. */
  def checksum(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(Int.MaxValue.toLong))
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  // ---- workloads ----------------------------------------------------------

  /** The changelog both workloads read, generated once per seed: 52
    * chunks of 5k events on 3,000 conversations (120k keys). backfill
    * replays all of it as one epoch; follow bulk-loads the first 8 chunks
    * (40k events, one stream epoch) and delivers the other 44 as its tail. */
  object Logs {
    val Convs = 3000
    val ChunkEvents = 5000L
    val BaseChunks = 8
    val TailChunks = 44

    def config(seed: Long): GenConfig = {
      val chunks = BaseChunks + TailChunks
      GenConfig(seed = seed, numEvents = chunks * ChunkEvents, numConvs = Convs, chunks = chunks)
    }
  }

  /** One-epoch bulk replay of the base log into an empty copy-on-write
    * table, enriched. */
  object Backfill {
    val SetupReps = 5
    val MinReplays = 3

    def apply(spark: SparkSession, run: Run): Unit = {
      val log = Inputs.log(Logs.config(run.seed), run.inputs)
      val opts = PipelineOptions(enrich = true)
      val logDir = s"${log.dir}/log"
      // set-up: table creation plus a full replay, five times: set-up time
      // gets a median, and the JIT and Spark's code generation come close
      // to steady state at the timed volume (replays keep getting faster
      // until about the fifth)
      for (i <- 0 until SetupReps) {
        val t0 = System.nanoTime()
        val t = SnapTable.create(spark, run.work.resolve(s"warm-$i").toString,
          Schemas.payloadV2, numBuckets = Buckets)
        CdcPipeline.replayBatch(spark, logDir, t, opts)
        run.setupReps += secondsSince(t0)
        Inputs.deleteTree(run.work.resolve(s"warm-$i"))
      }
      val reps = ArrayBuffer.empty[Map[String, Any]]
      val fs0 = run.fs; val tk0 = run.tasks
      val w0 = Clock.nowMs
      val tStart = System.nanoTime()
      var last: Option[SnapTable] = None
      var i = 0
      while (i < MinReplays || secondsSince(tStart) < run.seconds) {
        last.foreach(t => Inputs.deleteTree(Paths.get(t.root)))
        val t = SnapTable.create(spark, run.work.resolve(s"table-$i").toString,
          Schemas.payloadV2, numBuckets = Buckets)
        val t0 = System.nanoTime()
        val rec = run.op(run.span("replayBatch", "cdc", s"epoch-$i") {
          CdcPipeline.replayBatch(spark, logDir, t, opts)
        })
        val ms = (System.nanoTime() - t0) / 1e6
        rec.foreach(r => reps += Map("events" -> r.rowsIn, "ms" -> ms,
          "dirty" -> r.rowsDirty))
        last = Some(t)
        i += 1
      }
      run.out("timed_s") = secondsSince(tStart)
      run.out("window") = Seq(w0, Clock.nowMs)
      run.out("replays") = reps.toSeq
      run.out("fs") = Seq(fs0, run.fs)
      run.out("tasks") = Seq(tk0, run.tasks)
      run.out("input_bytes") = log.bytes
      last.foreach { t =>
        run.check("backfill_table_vs_reference",
          mismatches(t.read(spark), reference(changes(spark, Seq(logDir)))))
      }
      if (run.traced) {
        // single-thread baseline of the same replay (traced run only)
        spark.stop()
        val s1 = GraftSession.builder(1)
          .config("spark.local.dir", run.work.resolve("spark-local-1").toString)
          .getOrCreate()
        try {
          val t = SnapTable.create(s1, run.work.resolve("table-local1").toString,
            Schemas.payloadV2, numBuckets = Buckets)
          val t0 = System.nanoTime()
          val rec = CdcPipeline.replayBatch(s1, logDir, t, opts)
          run.out("local1_events_per_s") = rec.rowsIn / secondsSince(t0)
        } finally s1.stop()
      }
    }
  }

  /** Open-loop tail: a table bulk-loaded from the base log, then tail
    * chunks delivered by rename at a fixed rate into the directory
    * `CdcPipeline.stream` follows, merge-on-read. */
  object Follow {
    val PeriodMs = 300L
    val IntervalMs = 2000L
    val MinDeliveries = 40
    val WarmupChunks = 1
    val SetupReps = 2

    def apply(spark: SparkSession, run: Run): Unit = {
      val n = math.max(MinDeliveries, math.ceil(run.seconds * 1000 / PeriodMs).toInt)
      val used = WarmupChunks + n
      require(used <= Logs.TailChunks,
        s"--seconds ${run.seconds} needs $used tail chunks; the tail log has ${Logs.TailChunks}")
      val log = Inputs.log(Logs.config(run.seed), run.inputs)
      val loaded = log.chunkDirs.take(Logs.BaseChunks)
      val tail = log.copy(chunkDirs = log.chunkDirs.drop(Logs.BaseChunks),
        chunkRows = log.chunkRows.drop(Logs.BaseChunks))
      val opts = PipelineOptions(mergeMode = "mor", followIntervalMs = Some(IntervalMs))
      val followed = run.work.resolve("changelog")
      loaded.map(Paths.get(_)).foreach(d => Inputs.copyDir(d, followed.resolve(d.getFileName)))
      // chunk names are monotone in arrival order (the chunk-ledger
      // source's contract)
      val staging = run.work.resolve("staging")
      val tailNames = tail.chunkDirs.take(used).map(d => Paths.get(d).getFileName.toString)
      tailNames.zip(tail.chunkDirs).foreach { case (nm, d) =>
        Inputs.copyDir(Paths.get(d), staging.resolve(nm))
      }

      // set-up: bulk-load the base through the same stream and checkpoint
      // the follow query resumes from, so its batch ids continue past them
      var table: SnapTable = null
      var ckpt = ""
      for (i <- 0 until SetupReps) {
        if (table != null) Inputs.deleteTree(Paths.get(table.root))
        val t0 = System.nanoTime()
        table = SnapTable.create(spark, run.work.resolve(s"table-$i").toString,
          Schemas.payloadV2, numBuckets = Buckets)
        ckpt = run.work.resolve(s"table-$i/_checkpoint").toString
        CdcPipeline.stream(spark, followed.toString, table, ckpt,
          opts.copy(followIntervalMs = None)).awaitTermination()
        run.setupReps += secondsSince(t0)
      }
      val q = CdcPipeline.stream(spark, followed.toString, table, ckpt, opts)
      val deliveries = ArrayBuffer.empty[(Double, Double)] // (due, sent)
      def deliver(k: Int, due: Double): Unit = {
        val src = staging.resolve(tailNames(k))
        // the file source admits new files oldest-first by mtime
        val now = System.currentTimeMillis()
        Files.list(src).forEach(f => f.toFile.setLastModified(now): Unit)
        Files.move(src, followed.resolve(tailNames(k)), StandardCopyOption.ATOMIC_MOVE)
        deliveries += ((due, Clock.nowMs))
      }
      // warm-up (set-up): one delivery compiles the follow query's
      // incremental plans; then the deltas are folded away, so the timed
      // epochs start from the same merge-on-read state every run and, at
      // this rate, stay below the auto-compaction threshold, whose timing
      // would otherwise decide which chunks wait behind a compaction
      val tw = System.nanoTime()
      (0 until WarmupChunks).foreach(k => deliver(k, Clock.nowMs))
      q.processAllAvailable()
      table.compact(spark)
      run.out("warmup_s") = secondsSince(tw)

      val recorder = new ProgressRecorder
      spark.streams.addListener(recorder)
      val fs0 = run.fs; val tk0 = run.tasks
      val v0 = table.currentVersion; val e0 = table.committedEpoch
      deliveries.clear()
      val t0 = Clock.nowMs + 50
      for (k <- 0 until n) {
        val due = t0 + k * PeriodMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
        deliver(WarmupChunks + k, due)
        run.attempted += 1
      }
      q.processAllAvailable()
      val tEnd = Clock.nowMs
      val fs1 = run.fs; val tk1 = run.tasks
      q.stop()
      spark.streams.removeListener(recorder)
      run.out("timed_s") = (tEnd - t0) / 1000.0
      run.out("window") = Seq(t0, tEnd)
      run.out("chunk_rows") = tail.chunkRows.slice(WarmupChunks, used)
      run.out("deliveries") = deliveries.toSeq.map { case (d, a) => Seq(d, a) }
      run.out("progress") = recorder.all.map { p =>
        Map("batch" -> p.batchId, "start_ms" -> p.startMs, "durations" -> p.durations)
      }
      run.out("fs") = Seq(fs0, fs1)
      run.out("tasks") = Seq(tk0, tk1)
      run.out("input_bytes") = tail.bytes * n / tail.chunkDirs.size
      run.out("versions") = table.currentVersion - v0
      run.out("epochs") = table.committedEpoch - e0
      run.out("delta_files") = table.deltaFileCount
      run.out("lineage") = lineage(spark, table, e0)
      val all = changes(spark, loaded ++ tail.chunkDirs.take(used))
      run.check("follow_table_vs_reference", mismatches(table.read(spark), reference(all)))
    }
  }

  def lineage(spark: SparkSession, table: SnapTable, afterEpoch: Long): Seq[Map[String, Any]] =
    CdcPipeline.readLineage(spark, table).filter(_.epoch > afterEpoch)
      .map(r => Map("epoch" -> r.epoch, "rows_in" -> r.rowsIn, "dirty" -> r.rowsDirty))
}
