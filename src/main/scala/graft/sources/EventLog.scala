package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType}
import org.apache.spark.storage.StorageLevel
import graft.operators.Par

/** Canonical event-log adapter: maps the driver's `events` table onto the
  * streamkit data model (store → space → segment → sequenced entries), cf.
  * reference `pkg/api/messages.go:94-128` (Record/Entry) and
  * `docs/concepts.md` (hierarchy).
  *
  * Mapping: space = event_type, segment = user_id (as string),
  * timestamp = ts, payload = props, sequence = per-segment row_number
  * ordered by (ts, event_id) — deterministic because event_id is unique.
  *
  * Scale note (100 TB): in a production layout the log is written
  * partitioned by `space` and bucketed+sorted by (`segment`, `sequence`)
  * (EventLogWriter), so sequence is materialized at produce time and
  * ConsumeSegment is a partition-pruned, shuffle-free scan. The
  * window-function derivation below exists only because the driver's
  * test parquet is unpartitioned; every operator downstream consumes the
  * canonical view and is agnostic to which layout produced it.
  *
  * Two read paths over the raw layout:
  *  - [[entries]] derives sequences per call, with space/segment
  *    prefilters pushed to the parquet scan — one-shot queries (the
  *    registry) pay only for the segments they touch;
  *  - [[sequenced]] derives them once per snapshot of the input files
  *    and keeps the result persisted (MEMORY_AND_DISK), so a server
  *    answering many small reads (GraftStore) filters one cached frame.
  *    It holds one copy of the whole log per (session, directory)
  *    until [[release]] or until the SparkContext stops — for a log too
  *    large to cache, read the produced layout instead
  *    (`GraftStore.fromProduced`), which needs no derivation at all.
  *    The first read, and the first read after any change to the
  *    input, pays for a window over the whole log rather than over the
  *    touched segments: a one-shot reader is better served by
  *    [[entries]].
  */
object EventLog {

  /** Raw events table (no derivation) — use when an operator only needs
    * raw aggregates (status/listing ops) so Catalyst can prune columns
    * and skip the sequence-derivation shuffle entirely.
    *
    * The driver's `ts` has shipped as both parquet TIMESTAMP(NANOS)
    * (rounds ≤ 12) and TIMESTAMP(MICROS) (r13 regeneration). With
    * `nanosAsLong` set, the nanos form surfaces as LongType (Spark 4
    * refuses to map nanos to its µs TimestampType); the micros form
    * surfaces as TIMESTAMP_NTZ. [[tsUs]] normalizes either to epoch
    * micros, so every downstream operator is agnostic to which
    * generation wrote the file. */
  def raw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet")
  }

  /** Epoch-micros expression for whichever physical `ts` the parquet
    * carries. Nanos-as-long: `ts div 1000` truncates real sub-µs digits
    * — intentional, DuckDB reads TIMESTAMP_NS parquet µs-truncated too,
    * so both engines see identical ts_us. Micros: the NTZ wall-clock is
    * cast to the session-tz instant — every graft session pins
    * `spark.sql.session.timeZone=UTC`, so `unix_micros` yields the same
    * integer DuckDB's `epoch_us(ts)` computes on the naive timestamp.
    * Ordering ties at µs granularity are broken by the unique event_id
    * on both sides. */
  private[graft] def tsUs(tsType: DataType): Column = tsType match {
    case LongType           => expr("ts div 1000")
    case _: TimestampNTZType => unix_micros(col("ts").cast("timestamp"))
    case _                  => unix_micros(col("ts"))
  }

  /** Raw projected to canonical names, WITHOUT sequence derivation. */
  def named(spark: SparkSession, dir: String): DataFrame = {
    val r = raw(spark, dir)
    r.select(
      col("event_type").as("space"),
      col("user_id").cast("string").as("segment"),
      tsUs(r.schema("ts").dataType).as("ts_us"),
      col("event_id"),
      col("value"),
      col("props").as("payload"))
  }

  /** Canonical entry view: named + per-segment `sequence` (1-based).
    *
    * `space`/`segment` prefilters are applied on the RAW columns before
    * the rename, because a predicate on `cast(user_id as string)` cannot
    * reach the parquet scan — on the raw columns both prune row groups
    * AND shrink the sequence-derivation window to just the touched
    * segments. The string→long translation is adapter knowledge (the
    * canonical mapping defines segment = string form of user_id). */
  def entries(spark: SparkSession, dir: String,
      space: Option[String] = None,
      segment: Option[String] = None): DataFrame = {
    var r = raw(spark, dir)
    space.foreach(sp => r = r.filter(col("event_type") === sp))
    segment.foreach { sg =>
      r = segmentAsLong(sg).map(id => r.filter(col("user_id") === id))
        .getOrElse(r.filter(col("user_id").cast("string") === sg))
    }
    val w = Window.partitionBy("space", "segment").orderBy("ts_us", "event_id")
    r.select(
        col("event_type").as("space"),
        col("user_id").cast("string").as("segment"),
        tsUs(r.schema("ts").dataType).as("ts_us"),
        col("event_id"),
        col("value"),
        col("props").as("payload"))
      .withColumn("sequence", row_number().over(w).cast("long"))
  }

  private def segmentAsLong(sg: String): Option[Long] =
    try Some(sg.toLong) catch { case _: NumberFormatException => None }

  // ── The sequenced view, derived once per snapshot ──────────────────

  /** One (session, directory)'s live generation: the snapshot token it
    * was derived from and the persisted view. Guarded by its own lock,
    * so concurrent first readers wait for one derivation instead of
    * each running their own. */
  private final class Generation {
    var token: Seq[(String, Long, Long)] = Nil
    var view: DataFrame = null
    var released = false
  }

  private val generations =
    new ConcurrentHashMap[(SparkSession, String), Generation]()

  /** The snapshot token of `dir`'s input: (path, length, mtime) of every
    * data file under `events.parquet`, sorted — an overwrite, append or
    * compaction changes it. Hidden (`_`/`.`) entries are skipped, as
    * Spark's file index skips them. Plain `listStatus` (not
    * `listFiles`, which resolves block locations and permissions per
    * file) keeps the per-call re-list cheap. Empty when the path does
    * not exist, so the derivation raises Spark's own missing-path
    * error. */
  private def snapshot(spark: SparkSession,
      dir: String): Seq[(String, Long, Long)] = {
    val root = new Path(s"$dir/events.parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        val name = f.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    try walk(root).sorted
    catch { case _: FileNotFoundException => Nil }
  }

  /** Canonical entry view, derived once per snapshot of `dir`'s input
    * and persisted: every call re-lists the input ([[snapshot]]) and
    * returns the cached frame while the listing is unchanged; when it
    * differs, the old generation is unpersisted and the view derived
    * again — never more than one live generation per directory. The
    * derivation is materialized here, under the generation's lock, so
    * callers only ever filter a cached frame.
    *
    * The cached copy lives until [[release]] or until the SparkContext
    * stops; the memo also keeps `spark` reachable until then. */
  def sequenced(spark: SparkSession, dir: String): DataFrame = {
    generations.keySet.removeIf(_._1.sparkContext.isStopped)
    val gen = generations.computeIfAbsent((spark, dir), _ => new Generation)
    val seen = snapshot(spark, dir)
    val view = gen.synchronized {
      if (gen.released) null
      else if (gen.view != null && gen.token == seen) gen.view
      else {
        // re-list under the lock: `seen` may predate a generation another
        // reader derived while this one waited, and the recorded token
        // must never be older than the files the view was built from
        val token = snapshot(spark, dir)
        if (gen.view == null || gen.token != token) {
          if (gen.view != null) gen.view.unpersist(blocking = false)
          gen.view = null
          val derived = clustered(entries(spark, dir),
            Par.isTiny(token.size, token.map(_._2).sum))
          // Spark matches cached plans by input path, not snapshot: drop a
          // generation another session of this context cached for `dir`,
          // or persist would adopt its (possibly stale) data
          derived.unpersist(blocking = false)
          derived.persist(StorageLevel.MEMORY_AND_DISK).count()
          gen.token = token
          gen.view = derived
        }
        gen.view
      }
    }
    // released while this call waited: start over on a fresh generation
    if (view == null) sequenced(spark, dir) else view
  }

  /** Drops `dir`'s cached view for `spark`: unpersists it and forgets the
    * generation, so nothing of it stays reachable from the memo. The next
    * [[sequenced]] call derives the view again. Frames already handed out
    * stay valid but read from the files again. Returns whether a cached
    * view was held. */
  def release(spark: SparkSession, dir: String): Boolean =
    Option(generations.remove((spark, dir))).exists { gen =>
      gen.synchronized {
        gen.released = true
        val held = gen.view != null
        if (held) gen.view.unpersist(blocking = false)
        gen.view = null
        gen.token = Nil
        held
      }
    }

  /** The persisted layout of the sequenced view, sorted by (space,
    * segment, sequence) within each partition. A tiny input (Par's
    * absolute bound) is held in ONE partition, so segment consumes,
    * peeks, tails and groupBys over it plan with no exchange; anything
    * larger keeps the derivation's own (space, segment) clustering. */
  private[graft] def clustered(derived: DataFrame, tiny: Boolean): DataFrame =
    (if (tiny) derived.coalesce(1) else derived)
      .sortWithinPartitions("space", "segment", "sequence")

  // ── Exact integer money units for `value` (r15 verdict #2) ──────────
  //
  // `value` is money: an exact centile (the generator writes cents/100
  // doubles). round(sum(double)) is order-DEPENDENT at the rounding
  // boundary — IEEE addition commutes but does not associate, so
  // partitioning changes the rounded cent; the TPC-H family drew
  // exactly that one-cent divergence at the 2×-inflated scale (r20,
  // commit 7601133) and the es/window/stream money sums carried the
  // same documented hazard. The recipe, applied family-wide here:
  // lossless per-row cents, order-independent DECIMAL(38,0) sums (a
  // space-wide balance can span ~10¹² rows × ~10⁵ cents at the 100 TB
  // design point — within BIGINT, but exactness must not hinge on it),
  // ONE double division per display. No float round() anywhere — the
  // display `cents/100.0` is the identical IEEE division in any engine.

  /** Lossless per-row cents, FENCED (momentGuard posture): the
    * conversion is exact only for centile doubles, so a value whose
    * cents don't reconstruct it bit-exactly (sub-cent precision, NaN,
    * ±Inf — NaN/±Inf floor to garbage longs silently) raises a named
    * in-plan error instead of shipping a silently lossy sum. The fence
    * folds into the returned value so pruning can never drop it. */
  def valueCents: Column = {
    val c = floor(col("value") * lit(100.0) + lit(0.5))
    val fence = assert_true(c.cast("double") / lit(100.0) === col("value"),
      concat(lit("event value "), col("value").cast("string"),
        lit(" is not an exact centile — the exact-integer money " +
          "conversion would be lossy")))
    (c + coalesce(fence.cast("long"), lit(0L))).cast("decimal(38,0)")
  }

  /** Display form of a cents aggregate: one exact-integer→double cast +
    * one IEEE division — engine-identical, order-independent. */
  def centsAsValue(cents: Column): Column = cents.cast("double") / lit(100.0)

  /** `round(sum(value), 2)` replacement: exact cents summed in
    * DECIMAL(38,0), displayed once. */
  def sumValueExact: Column = centsAsValue(sum(valueCents))

  /** DuckDB duals (oracle SQL embeds these verbatim — one definition). */
  val CentsSql: String = "CAST(floor(value * 100 + 0.5) AS HUGEINT)"
  val SumValueSql: String = s"CAST(sum($CentsSql) AS DOUBLE) / 100.0"

  /** DuckDB oracle dual of [[entries]]; prepend to oracle SQL. */
  val CTE: String =
    """WITH entries AS (
      |  SELECT event_type AS space,
      |         CAST(user_id AS VARCHAR) AS segment,
      |         ts,
      |         epoch_us(ts) AS ts_us,
      |         event_id,
      |         value,
      |         props AS payload,
      |         CAST(row_number() OVER (PARTITION BY event_type, user_id
      |                                 ORDER BY ts, event_id) AS BIGINT) AS sequence
      |  FROM events
      |)""".stripMargin
}
