package graft

import graft.cdc.{CdcPipeline, PipelineOptions}
import graft.gen.{ChangeStreamGen, GenConfig}
import graft.model.Schemas
import graft.table.SnapTable
import org.apache.spark.sql.functions._

/**
 * spark-submit entry point (the rebuild of the reference's
 * `python datax.py job.json` -> Engine.main flow, reference:
 * core/src/main/java/com/alibaba/datax/core/Engine.java:201-221).
 *
 * Subcommands:
 *   gen    --out DIR [--events N] [--convs N] [--chunks N] [--seed N]
 *   ingest --changelog DIR --table DIR [--checkpoint DIR] [--mode stream|batch]
 *          [--buckets N] [--max-files-per-trigger N] [--max-bytes-per-trigger B]
 *          [--merge-mode cow|mor]   # mor = O(batch) delta commits + compaction
 *          [--follow-ms N]          # keep tailing the changelog (ProcessingTime
 *                                   # trigger) instead of drain-and-stop
 *          [--retain-snapshots N [--retain-meta-epochs N] [--tombstone-lag L]
 *           [--retention-every N]]  # bounded-growth maintenance loop for
 *                                   # long-running deployments
 *   compact --table DIR             # fold merge-on-read deltas into base files
 *   sync   --source DIR --dest DIR [--buckets N] [--merge-mode cow|mor]
 *                                 # incremental table->table replication:
 *                                 # changes since the dest's own lsn watermark
 *   expire --table DIR --keep N     # GC snapshots past the retention horizon
 *   describe --table DIR            # versions, schema evolution, file stats
 *   rebucket --table DIR --buckets N # layout evolution: rewrite into N buckets
 *   show   --table DIR [--limit N]
 *   lineage --table DIR
 *   job    --job FILE.json        # DataX-shaped job config (reader ->
 *                                 # transformer chain -> writer), the
 *                                 # `datax.py job.json` parity entry
 *   dedup  --in PATH --method exact|jaccard|prefix|minhash|simhash|embedding
 *          [--id doc_id] [--text text] [--vec embedding] [--threshold 0.5]
 *          [--k 3] [--max-hamming 3] [--out DIR] [--limit 20]
 *                                 # training-data dedup over a parquet path or
 *                                 # snapshot table ("prefix" = exact jaccard
 *                                 # via prefix filtering, the corpus-scale path)
 *   ann    --in PATH [--k 10] [--queries N | --query-id ID]
 *          [--strategy brute|lsh|ivf] [--id vec_id] [--vec embedding]
 *          [--out DIR] [--limit 20]
 *                                 # approximate-nearest-neighbor top-k over an
 *                                 # embedding column (dim inferred)
 */
object Main {

  private[graft] def parseArgs(args: Array[String]): Map[String, String] =
    args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap

  /** The error for a flag `cmd` no longer takes. `parseArgs` keeps unknown
    * flags without complaint, so a removed one must be refused here or an
    * old script would silently get different behaviour. */
  private[graft] def removedFlag(cmd: String, opts: Map[String, String]): Option[String] =
    if (cmd == "ingest" && opts.contains("source"))
      Some("ingest --source: the chunk-ledger source was removed. ingest always " +
        "tails the changelog with Spark's file source, where " +
        "--max-files-per-trigger counts files, not chunk directories; drop --source")
    else None

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: gen|ingest|show|lineage ..."); sys.exit(2) }
    val opts = parseArgs(args)
    removedFlag(args(0), opts).foreach { msg => System.err.println(msg); sys.exit(2) }
    val spark = GraftSession.get(opts.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    try args(0) match {
      case "gen" =>
        val cfg = GenConfig(
          seed = opts.getOrElse("seed", "42").toLong,
          numEvents = opts.getOrElse("events", "100000").toLong,
          numConvs = opts.getOrElse("convs", "1000").toInt,
          chunks = opts.getOrElse("chunks", "10").toInt)
        val dirs = ChangeStreamGen.writeChangelog(spark, cfg, opts("out"))
        println(s"wrote ${dirs.size} chunks to ${opts("out")}")

      case "ingest" =>
        val tableDir = opts("table")
        val table =
          if (SnapTable.exists(spark, tableDir)) SnapTable.load(spark, tableDir)
          else SnapTable.create(spark, tableDir, Schemas.payloadV1,
            numBuckets = opts.getOrElse("buckets", "32").toInt)
        val pOpts = PipelineOptions(
          maxFilesPerTrigger = opts.getOrElse("max-files-per-trigger", "8").toInt,
          maxBytesPerTrigger = opts.get("max-bytes-per-trigger").map(_.toLong),
          mergeMode = opts.getOrElse("merge-mode", "cow"),
          // --follow-ms N keeps tailing the changelog dir at that poll
          // interval (runs until killed); default drains and stops
          followIntervalMs = opts.get("follow-ms").map(_.toLong),
          // --retain-snapshots N enables the bounded-growth maintenance
          // loop a long-running --follow-ms deployment needs
          retention = opts.get("retain-snapshots").map(n =>
            graft.cdc.RetentionPolicy(
              retainSnapshots = n.toInt,
              retainMetaEpochs = opts.getOrElse("retain-meta-epochs", "50").toInt,
              tombstoneLsnLag = opts.get("tombstone-lag").map(_.toLong),
              everyEpochs = opts.getOrElse("retention-every", "10").toInt)))
        opts.getOrElse("mode", "stream") match {
          case "batch" =>
            val rec = CdcPipeline.replayBatch(spark, opts("changelog"), table, pOpts)
            println(s"batch replay: $rec")
          case "stream" =>
            val q = CdcPipeline.stream(spark, opts("changelog"), table,
              opts.getOrElse("checkpoint", s"$tableDir/_checkpoint"), pOpts)
            if (pOpts.followIntervalMs.isDefined)
              println(s"following ${opts("changelog")} (interval " +
                s"${pOpts.followIntervalMs.get}ms) — stop with SIGINT")
            q.awaitTermination()
            println(s"stream done: version=${table.currentVersion} rows=${table.snapshot().rows}")
        }

      case "show" =>
        // --version N time-travels to an older retained snapshot
        val table = SnapTable.load(spark, opts("table"))
        val version = opts.get("version").map(_.toLong).getOrElse(table.currentVersion)
        val df = (if (version == table.currentVersion) table.read(spark)
                  else table.readVersion(spark, version))
          .orderBy("conv_id", "turn_idx")
        // one bounded scan: the display is a LIMIT query and the row count
        // comes from the manifest (stored rows incl. tombstones/deltas)
        // instead of a full df.count() pass before the show
        val limit = opts.getOrElse("limit", "10").toInt
        println(s"version=$version storedRows=${table.snapshot(version).rows}")
        df.show(limit, truncate = 60)

      case "compact" =>
        val table = SnapTable.load(spark, opts("table"))
        val rewritten = table.compact(spark)
        println(s"compacted: filesRewritten=$rewritten version=${table.currentVersion} " +
          s"deltasRemaining=${table.deltaFileCount}")

      case "sync" =>
        val source = SnapTable.load(spark, opts("source"))
        val destDir = opts("dest")
        val dest =
          if (SnapTable.exists(spark, destDir)) SnapTable.load(spark, destDir)
          else SnapTable.create(spark, destDir, Schemas.payloadV1,
            numBuckets = opts.getOrElse("buckets", "32").toInt)
        val r = graft.cdc.Sync.sync(spark, source, dest,
          PipelineOptions(mergeMode = opts.getOrElse("merge-mode", "cow")))
        println(s"sync ${r.result}: fromLsn=${r.fromLsn} toLsn=${r.toLsn} " +
          s"rowsApplied=${r.rowsApplied} destVersion=${dest.currentVersion}")

      case "sync-jdbc" =>
        // incremental lake->RDBMS fan-out; watermark lives in the target DB.
        // --follow-ms polls the source like ingest's follow mode (a no-change
        // round is two metadata reads, no scan); --max-rounds bounds it for
        // demos/tests — omit for a run-until-killed deployment.
        val source = SnapTable.load(spark, opts("source"))
        val url = opts("url")
        val connect = () => java.sql.DriverManager.getConnection(url)
        def once(): Unit = {
          val r = graft.cdc.Sync.toJdbc(spark, source, connect, opts("target"))
          println(s"sync-jdbc ${r.result}: fromLsn=${r.fromLsn} toLsn=${r.toLsn} " +
            s"upserts=${r.upserts} deletes=${r.deletes}")
        }
        opts.get("follow-ms").map(_.toLong) match {
          case None => once()
          case Some(ms) =>
            val maxRounds = opts.get("max-rounds").map(_.toInt)
            var rounds = 0
            var go = true
            while (go) {
              once()
              rounds += 1
              if (maxRounds.exists(rounds >= _)) go = false else Thread.sleep(ms)
            }
        }

      case "rebucket" =>
        val table = SnapTable.load(spark, opts("table"))
        table.rebucket(spark, opts("buckets").toInt)
        println(s"rebucketed: buckets=${table.snapshot().numBuckets} " +
          s"version=${table.currentVersion} rows=${table.snapshot().rows}")

      case "expire" =>
        val table = SnapTable.load(spark, opts("table"))
        val (snaps, files) = table.expireSnapshots(opts.getOrElse("keep", "5").toInt)
        println(s"expired: snapshots=$snaps orphanFiles=$files version=${table.currentVersion}")

      case "describe" =>
        val table = SnapTable.load(spark, opts("table"))
        val snap = table.snapshot()
        println(s"root=${table.root}")
        println(s"version=${snap.version} epoch=${snap.lastEpoch} rows=${snap.rows} " +
          s"buckets=${snap.numBuckets}")
        println(s"files=${snap.files.size} (base=${snap.files.count(_.kind == "base")} " +
          s"delta=${snap.files.count(_.kind == "delta")}) " +
          s"lsnRange=[${snap.files.flatMap(_.minLsn).minOption.getOrElse(-1L)}," +
          s"${snap.files.flatMap(_.maxLsn).maxOption.getOrElse(-1L)}]")
        println(s"history=${table.history.mkString(",")}")
        snap.schemaVersions.toSeq.sortBy(_._1.toInt).foreach { case (v, ddl) =>
          val marker = if (v.toInt == snap.currentSchemaV) "*" else " "
          println(s"schema v$v$marker $ddl")
        }

      case "lineage" =>
        val table = SnapTable.load(spark, opts("table"))
        CdcPipeline.readLineage(spark, table).foreach { l =>
          println(f"epoch=${l.epoch}%3d result=${l.result}%-14s in=${l.rowsIn}%7d " +
            f"dirty=${l.rowsDirty}%4d applied=${l.rowsApplied}%7d " +
            f"buckets=${l.bucketsRewritten}%3d latencyMs=${l.mergeLatencyMs}%6d " +
            s"partitions=${l.partitions.map(p => s"p${p.partition}:[${p.minLsn},${p.maxLsn}]x${p.rows}").mkString(",")}")
        }

      case "job" =>
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(opts("job"))), java.nio.charset.StandardCharsets.UTF_8)
        if (opts.get("dry-run").contains("true")) {
          // the reference's job.setting.dryRun preCheck path
          val problems = graft.job.Job.preCheck(spark, json)
          if (problems.isEmpty) println("preCheck OK")
          else { problems.foreach(p => println(s"preCheck FAIL: $p")); sys.exit(1) }
        } else {
          val report = graft.job.Job.run(spark, json)
          println(s"job ${report.states.mkString("->")} read=${report.rowsRead} " +
            s"written=${report.rowsWritten} dirty=${report.rowsDirty} " +
            s"elapsedMs=${report.elapsedMs}${report.error.map(e => s" error=$e").getOrElse("")}")
          if (report.error.nonEmpty) sys.exit(1)
        }

      case "dedup" =>
        import graft.operators.{Similarity, TextDedup}
        val df = readInput(spark, opts("in"))
        val id = opts.getOrElse("id", "doc_id")
        val text = opts.getOrElse("text", "text")
        val t = opts.getOrElse("threshold", "0.5").toDouble
        val k = opts.getOrElse("k", "3").toInt
        val result = opts.getOrElse("method", "exact") match {
          case "exact" => TextDedup.exact(df, id, text)
          case "jaccard" => TextDedup.ngramJaccardPairs(df, id, text, k, t)
          case "prefix" => TextDedup.ngramJaccardPrefixPairs(df, id, text, k, t)
          case "minhash" => TextDedup.minhashLshPairs(df, id, text, k, threshold = t)
          case "simhash" => TextDedup.simhashPairs(df, id, text,
            maxHamming = opts.getOrElse("max-hamming", "3").toInt)
          case "embedding" =>
            val vec = opts.getOrElse("vec", "embedding")
            Similarity.nearDupPairs(df, t, dim = vecDim(df, vec),
              idCol = opts.getOrElse("id", "vec_id"), vecCol = vec)
          case m => throw new IllegalArgumentException(s"dedup method '$m'")
        }
        emit(result, opts, s"dedup method=${opts.getOrElse("method", "exact")}")

      case "ann" =>
        import graft.operators.Similarity
        val corpus = readInput(spark, opts("in"))
        val id = opts.getOrElse("id", "vec_id")
        val vec = opts.getOrElse("vec", "embedding")
        val k = opts.getOrElse("k", "10").toInt
        val dim = vecDim(corpus, vec)
        val queries = opts.get("query-id") match {
          case Some(q) => corpus.filter(col(id) === lit(q.toLong))
          case None => corpus.orderBy(id).limit(opts.getOrElse("queries", "10").toInt)
        }
        val result = opts.getOrElse("strategy", "brute") match {
          case "brute" => Similarity.bruteForceTopK(corpus, queries, k, dim, id, vec)
          case "lsh" => Similarity.lshTopK(corpus, queries, k, dim, idCol = id, vecCol = vec)
          case "ivf" => Similarity.ivfTopK(corpus, queries, k, dim, idCol = id, vecCol = vec)
          case s => throw new IllegalArgumentException(s"ann strategy '$s'")
        }
        emit(result, opts, s"ann strategy=${opts.getOrElse("strategy", "brute")} k=$k dim=$dim")

      case other =>
        System.err.println(s"unknown subcommand '$other'"); sys.exit(2)
    } finally spark.stop()
  }

  /** A parquet path, or a snapshot table dir (current user-facing state). */
  private def readInput(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    if (SnapTable.exists(spark, path)) SnapTable.load(spark, path).read(spark)
    else spark.read.parquet(path)

  /** Dimension of the embedding column, read from the first non-null vector.
    * An empty input or an all-null column fails HERE with the real cause —
    * probing with a bare head() would surface as an opaque
    * NoSuchElementException (or a nonsense -1 dim) deep inside the
    * dedup/ann plan instead. */
  private def vecDim(df: org.apache.spark.sql.DataFrame, vecCol: String): Int = {
    val first = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).head(1)
    require(first.nonEmpty,
      s"input has no rows with a non-null '$vecCol' vector — cannot infer dimension")
    first.head.getInt(0)
  }

  /** `--out DIR` writes parquet and prints the row count; otherwise shows
    * the first `--limit` rows (one bounded action either way). */
  private def emit(df: org.apache.spark.sql.DataFrame, opts: Map[String, String],
      label: String): Unit = opts.get("out") match {
    case Some(out) =>
      df.write.mode("overwrite").parquet(out)
      val n = df.sparkSession.read.parquet(out).count()
      println(s"$label rows=$n out=$out")
    case None =>
      println(label)
      df.show(opts.getOrElse("limit", "20").toInt, truncate = 40)
  }
}
