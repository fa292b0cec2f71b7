package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import graft.gen.{ChangeStreamGen, GenConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Generated changelogs, cached per (seed, config) under the inputs
 * directory. Generation runs in a JVM of its own (`Main --generate`), so its
 * heap and JIT state never reach a measured run. A cache entry holds the
 * generated chunk directories plus `MANIFEST`: the row count of every chunk
 * and a SHA-256 over every file's relative path and bytes.
 * Reuse re-hashes the files and re-counts the rows, so a stale or damaged
 * cache fails the run instead of silently changing a workload.
 */
object Inputs {

  final case class Log(dir: String, chunkDirs: Seq[String], chunkRows: Seq[Long]) {
    def bytes: Long = chunkDirs.map(d => dataFiles(Paths.get(d)).map(Files.size).sum).sum
  }

  def key(cfg: GenConfig): String = {
    // the writer's layout is part of the key, so a cache from another
    // layout is never reused
    val text = ("partitioned" +: cfg.productIterator.toSeq).mkString(",")
    s"seed${cfg.seed}-" + hex(MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))).take(12)
  }

  private def manifest(cfg: GenConfig, root: String): Path =
    Paths.get(root, key(cfg), "MANIFEST")

  def cached(cfg: GenConfig, root: String): Boolean = Files.exists(manifest(cfg, root))

  /** Write the changelog for `cfg` and its manifest. The events are
    * `ChangeStreamGen.events`, cut into the same delivery-order chunks as
    * `ChangeStreamGen.writeChangelog` (chunk c holds delivery positions
    * [c*sz - w/2, (c+1)*sz - w/2)), but written by one partitioned job
    * instead of one job per chunk, whose fixed cost made generation of a
    * many-chunk log slow. Every chunk file carries the `tool` column
    * (null before the evolution point), and every chunk directory gets the
    * `_SUCCESS` marker a per-chunk write would leave. */
  def generate(spark: SparkSession, cfg: GenConfig, root: String): Unit = {
    val dir = Paths.get(root, key(cfg))
    deleteTree(dir)
    val w = cfg.oooWindow
    val sz = math.max(1L, (cfg.numEvents + 2L * w) / cfg.chunks + 1)
    val logDir = dir.resolve("log")
    ChangeStreamGen.events(spark, cfg)
      .withColumn("chunk", format_string("%05d", floor((col("pos") + w / 2) / sz)))
      .drop("pos")
      .repartition(col("chunk"))
      .write.partitionBy("chunk").parquet(logDir.toString)
    chunks(dir).foreach(c => Files.createFile(c.resolve("_SUCCESS")))
    Files.delete(logDir.resolve("_SUCCESS"))
    require(chunks(dir).size == cfg.chunks,
      s"expected ${cfg.chunks} chunks under $logDir, found ${chunks(dir).size}")
    val rows = chunks(dir).map(footerRows)
    Files.writeString(manifest(cfg, root),
      (s"hash ${contentHash(dir)}" +: rows.map(r => s"rows $r")).mkString("\n") + "\n")
  }

  /** The cached changelog for `cfg`, verified against its manifest. */
  def log(cfg: GenConfig, root: String): Log = {
    val dir = Paths.get(root, key(cfg))
    require(cached(cfg, root), s"no generated input at $dir")
    val lines = Files.readAllLines(manifest(cfg, root)).asScala.toSeq
    val wantHash = lines.head.stripPrefix("hash ")
    val chunkRows = lines.tail.map(_.stripPrefix("rows ").toLong)
    val cs = chunks(dir)
    val gotHash = contentHash(dir)
    require(gotHash == wantHash, s"input cache $dir is stale: content hash $gotHash != $wantHash")
    val gotRows = cs.map(footerRows)
    require(gotRows == chunkRows,
      s"input cache $dir is stale: chunk rows $gotRows, manifest says $chunkRows")
    Log(dir.toString, cs.map(_.toString), chunkRows)
  }

  private def chunks(dir: Path): Seq[Path] = {
    val logDir = dir.resolve("log")
    Files.list(logDir).iterator().asScala.filter(p => Files.isDirectory(p)).toSeq
      .sortBy(_.getFileName.toString)
  }

  /** Rows of a chunk directory, from its parquet footers. */
  private def footerRows(chunk: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    dataFiles(chunk).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  private def dataFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)

  private def contentHash(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.walk(dir.resolve("log")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .toSeq.sortBy(_.toString).foreach { p =>
        md.update(dir.relativize(p).toString.getBytes("UTF-8"))
        md.update(Files.readAllBytes(p))
      }
    hex(md.digest())
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Copy a chunk directory (files only, one level deep). */
  def copyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => Files.copy(f, dst.resolve(f.getFileName)))
  }
}
