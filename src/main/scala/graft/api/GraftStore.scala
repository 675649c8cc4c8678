package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.sources.EventLog
import graft.operators.{EventSourcing, StreamOps}

/** User-facing facade mirroring the reference client surface
  * (`pkg/client/client.go`): a store handle scoped to one event-log
  * directory, with space and segment handles underneath
  * (`docs/concepts.md` hierarchy: store → space → segment → entry).
  *
  * Every read filters ONE canonical entry view, [[entries]]. Over the
  * raw layout that view is [[graft.sources.EventLog.sequenced]]:
  * sequences are derived once per snapshot of `events.parquet` and the
  * result is persisted (MEMORY_AND_DISK), so a consume, peek, tail,
  * listing, status or replay is a filter plus operators over a cached
  * frame — no schema inference, no scan of the log, no window per
  * call. Validity: each call re-lists the input files (name, length,
  * mtime); when the listing changes, the old generation is unpersisted
  * and the view derived again, so a handle always answers from the
  * current files. Cost: the first read, and the first read after each
  * change, derives sequences for the whole log, not just the touched
  * segments. Memory: one cached copy of the whole log per (session,
  * directory), shared by every handle on it, held until [[release]] or
  * until the SparkContext stops. For a log too large to hold, use
  * [[GraftStore.fromProduced]]: the produced layout materializes
  * sequences at write time, caches nothing and prunes space/segment
  * predicates to partitions.
  *
  * Methods return lazy DataFrames, so Catalyst optimizes the caller's
  * operators together with the facade's. */
class GraftStore(spark: SparkSession, dir: String) {
  /** Canonical entry view (space, segment, sequence, ts_us, event_id,
    * value, payload). */
  def entries: DataFrame = EventLog.sequenced(spark, dir)

  /** Drops the cached view of this directory for every handle on it
    * ([[graft.sources.EventLog.release]]); the next read derives it
    * again. A no-op over the produced layout, which caches nothing. */
  def release(): Unit = EventLog.release(spark, dir)

  /** The entry view narrowed to one space and/or segment. */
  private[api] def entriesFor(space: Option[String],
      segment: Option[String] = None): DataFrame =
    entries.filter((space.map(col("space") === _) ++
      segment.map(col("segment") === _)).foldLeft(lit(true))(_ && _))

  /** GetSpaces. */
  def spaces: DataFrame = StreamOps.getSpaces(entries)

  /** GetStatus. */
  def status: DataFrame = StreamOps.storeStatus(entries)

  /** Consume across spaces from per-space offsets. */
  def consume(offsets: Map[String, (String, Long)],
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeMulti(entries, offsets, minTsUs, maxTsUs, limit)

  /** Produce-contract audit across the store (ErrSequenceMismatch dual). */
  def validate: DataFrame = StreamOps.produceValidate(entries)

  /** TRX recovery audit over per-batch transaction ids
    * (`internal/txn` dual). */
  def trxAudit(batchSize: Int = 10): DataFrame =
    graft.sources.EventLogWriter.trxAudit(
      graft.sources.EventLogWriter.assignTrx(entries, batchSize), batchSize)

  /** Space-watermark late-arrival audit
    * (`server/space_watermarks.go` dual). */
  def watermarkAudit(toleranceUs: Long): DataFrame =
    StreamOps.watermarkAudit(entries, toleranceUs)

  def space(name: String): GraftSpace = new GraftSpace(this, name)
}

object GraftStore {
  def apply(spark: SparkSession, dir: String): GraftStore =
    new GraftStore(spark, dir)

  /** Store over a produced layout (EventLogWriter.write output):
    * sequences are materialized, so no window derivation runs and
    * space/segment predicates prune partitions directly. */
  def fromProduced(spark: SparkSession, path: String): GraftStore =
    new GraftStore(spark, path) {
      override def entries: DataFrame =
        graft.sources.EventLogWriter.readProduced(spark, path)
    }
}

/** Space handle: ConsumeSpace / GetSegments / subscriptions' batch dual. */
class GraftSpace(store: GraftStore, val name: String) {
  def segments: DataFrame = StreamOps.getSegments(store.entries, name)

  def consume(minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSpace(store.entriesFor(Some(name)), name, minTsUs,
      maxTsUs, limit)

  def consumeFrom(anchorSegment: String, anchorSequence: Long,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSpaceFromOffset(store.entriesFor(Some(name)), name,
      anchorSegment, anchorSequence, limit)

  /** Latest entry of every segment (Peek fan-out). */
  def peekAll: DataFrame = StreamOps.peek(store.entriesFor(Some(name)), name)

  /** eskit: fold every aggregate in this space to its current state. */
  def replayState(afterSequence: Long = 0L): DataFrame =
    EventSourcing.replayState(store.entriesFor(Some(name)), name,
      afterSequence)

  def stateAsOf(tsUs: Long): DataFrame =
    EventSourcing.stateAsOf(store.entriesFor(Some(name)), name, tsUs)

  /** "What changed between t1 and t2" — one-pass conditional-agg diff
    * (see [[graft.operators.EventSourcing.stateDiff]]). */
  def stateDiff(t1Us: Long, t2Us: Long): DataFrame =
    EventSourcing.stateDiff(store.entriesFor(Some(name)), name, t1Us, t2Us)

  /** eskit snapshot at a sequence point (materialize with .write). */
  def snapshot(atSequence: Long): DataFrame =
    EventSourcing.snapshot(store.entriesFor(Some(name)), name, atSequence)

  /** Load-snapshot-then-incremental-replay (`eskit/store.go:33-46`). */
  def replayFrom(snapshot: DataFrame): DataFrame =
    EventSourcing.replayFromSnapshot(snapshot,
      store.entriesFor(Some(name)), name)

  /** Last k entries of every segment. */
  def tail(k: Int): DataFrame =
    StreamOps.consumeTail(store.entriesFor(Some(name)), name, k)

  def segment(id: String): GraftSegment = new GraftSegment(store, name, id)
}

/** Segment handle: ConsumeSegment / Peek. */
class GraftSegment(store: GraftStore, val space: String, val segment: String) {
  def consume(minSeq: Option[Long] = None, maxSeq: Option[Long] = None,
      minTsUs: Option[Long] = None, maxTsUs: Option[Long] = None,
      limit: Option[Int] = None): DataFrame =
    StreamOps.consumeSegment(store.entriesFor(Some(space), Some(segment)),
      space, segment, minSeq, maxSeq, minTsUs, maxTsUs, limit)

  def peek: DataFrame =
    StreamOps.peek(store.entriesFor(Some(space), Some(segment)), space)
      .filter(col("segment") === segment)
}
