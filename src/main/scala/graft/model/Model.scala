package graft.model

import org.apache.spark.sql.types._

/**
 * Canonical data model for the CDC/ingest engine.
 *
 * The unit of transfer in the reference is a schemaless ordered `Record` of
 * tagged `Column` cells (reference: common/src/main/java/com/alibaba/datax/
 * common/element/Record.java:7-23, Column.java:13-74). We replace per-cell
 * dynamic typing with one canonical typed change event whose schema is carried
 * by Catalyst (`StructType`), per SURVEY.md §1.3.
 *
 * Change-event envelope = payload columns + (lsn, op):
 *   - `lsn`  — strictly-increasing log sequence number per source partition
 *              (the binlog/WAL offset; reference analogue: the OTS stream
 *              sequenceId `epoch_ts_rowIdx_shard`, otsstreamreader/.../core/
 *              SingleVerAndUpOnlyModeRecordSender.java:23-100).
 *   - `op`   — 'I' insert | 'U' update | 'D' delete.
 */
final case class ChangeEvent(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String, // nullable; appears only after the schema-evolution point
    ts: java.sql.Timestamp,
    lsn: Long,
    op: String)

/** Final-state row of the transcript table (what a reader sees). */
final case class TranscriptTurn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp,
    lsn: Long)

object Schemas {

  /** Payload schema v1 — before the schema-evolution point (no `tool`). */
  val payloadV1: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))

  /** Payload schema v2 — after evolution (`tool` added). */
  val payloadV2: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", TimestampType, nullable = false)))

  private def withEnvelope(payload: StructType): StructType =
    StructType(payload.fields ++ Seq(
      StructField("lsn", LongType, nullable = false),
      StructField("op", StringType, nullable = false)))

  /** Changelog envelope v1/v2 (payload + lsn + op). */
  val envelopeV1: StructType = withEnvelope(payloadV1)
  val envelopeV2: StructType = withEnvelope(payloadV2)

  /** Superset schema used when stream-reading a mixed-version changelog
    * directory: files written before the evolution point simply surface
    * `tool = null` (parquet missing-column semantics). */
  val envelope: StructType = envelopeV2

  /** Merge keys of the target table. */
  val mergeKeys: Seq[String] = Seq("conv_id", "turn_idx")

  /** Canonical hash types for the merge keys: every integral key hashes as
    * LONG so bucket assignment survives schema widening (xxhash64 hashes
    * IntegerType and LongType differently — without the canonical cast, a
    * turn_idx int->long widening would strand old rows in buckets computed
    * with the int hash while new batches bucket with the long hash, leaving
    * duplicate keys across buckets). */
  val mergeKeyCanonicalTypes: Seq[(String, String)] =
    Seq("conv_id" -> "string", "turn_idx" -> "long")
}
