package graftbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.api.GraftStore
import graft.operators.StreamOps
import graft.sources.{EventLog, EventLogWriter}

import Gen.Event

/** One entry of the canonical view, as the plain-Scala reference holds it. */
final case class Entry(space: String, segment: String, seq: Long, tsUs: Long,
    eventId: Long, cents: Long, payload: String) {
  /** The canonical row (space, segment, sequence, ts_us, value, payload). */
  def row: String = s"$space|$segment|$seq|$tsUs|${cents / 100.0}|$payload"
}

/** Plain-Scala reference of the event log: sequences assigned per
  * (space, segment) in (ts_us, event_id) order, and every read of the
  * consume surface answered from memory. Appends extend it in place. */
final class LogRef(events: Seq[Event]) {
  private val segs = scala.collection.mutable.HashMap[(String, String),
    scala.collection.mutable.ArrayBuffer[Entry]]()
  add(events)

  /** Assign sequences to new events after each segment's tail; returns
    * the new entries. */
  def add(evs: Seq[Event]): Seq[Entry] =
    evs.sortBy(e => (e.tsUs, e.eventId)).map { e =>
      val key = (e.eventType, e.userId.toString)
      val buf = segs.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer())
      val en = Entry(key._1, key._2, buf.size + 1L, e.tsUs, e.eventId, e.cents,
        e.props)
      buf += en
      en
    }

  def keys: Vector[(String, String)] = segs.keys.toVector.sorted
  def segment(space: String, seg: String): Seq[Entry] =
    segs.getOrElse((space, seg), Nil).toSeq
  def spaces: Vector[String] = segs.keys.map(_._1).toVector.distinct.sorted

  private def tsOrder(e: Entry) = (e.tsUs, e.segment, e.seq)
  def space(sp: String): Vector[Entry] =
    segs.collect { case ((s, _), b) if s == sp => b }.flatten.toVector
      .sortBy(tsOrder)

  private implicit val tupleOrd: Ordering[(Long, String, Long)] =
    Ordering.Tuple3[Long, String, Long]

  def after(sp: String, anchor: Entry): Vector[Entry] =
    space(sp).filter(e => tupleOrd.gt(tsOrder(e), tsOrder(anchor)))

  /** Store Consume over per-space offsets, ordered (ts, space, segment,
    * sequence). An offset that does not resolve reads its space whole. */
  def consume(offsets: Map[String, (String, Long)], limit: Int): Vector[Entry] =
    offsets.toVector.flatMap { case (sp, (sg, sq)) =>
      segment(sp, sg).find(_.seq == sq) match {
        case Some(a) => after(sp, a)
        case None => space(sp)
      }
    }.sortBy(e => (e.tsUs, e.space, e.segment, e.seq)).take(limit)

  def peek(sp: String): Vector[Entry] =
    segs.collect { case ((s, _), b) if s == sp && b.nonEmpty => b.last }.toVector

  def tail(sp: String, k: Int): Vector[Entry] =
    segs.collect { case ((s, _), b) if s == sp => b.takeRight(k) }.flatten.toVector

  /** (space, n_segments, n_entries, min_ts_us, max_ts_us) per space. */
  def status: Vector[String] = spaces.map { sp =>
    val es = space(sp)
    s"$sp|${es.map(_.segment).distinct.size}|${es.size}|${es.map(_.tsUs).min}|" +
      s"${es.map(_.tsUs).max}"
  }

  /** replayState / stateAsOf rows for the entries kept by `keep`. */
  def state(sp: String, keep: Entry => Boolean): Vector[String] =
    segs.collect { case ((s, sg), b) if s == sp => (sg, b.filter(keep)) }
      .filter(_._2.nonEmpty).map { case (sg, es) =>
        val last = es.maxBy(_.seq)
        s"$sp|$sg|${es.size}|${es.map(_.cents).sum.toDouble / 100.0}|" +
          s"${last.seq}|${last.tsUs}|${last.payload}"
      }.toVector
}

object Log {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def ldt(tsUs: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(tsUs, 1000000L),
      (Math.floorMod(tsUs, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  /** Write events as `<dir>/events.parquet`, the raw table the library's
    * event-log adapter reads. */
  def writeEvents(ctx: Ctx, evs: Seq[Event], dir: String): Unit = {
    val rows = evs.map(e => Row(e.eventId, ldt(e.tsUs), e.userId, e.eventType,
      e.value, e.props))
    ctx.spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), EventSchema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }

  /** Raw bytes of events: 8 per number and timestamp plus the strings. */
  def rawBytes(evs: Seq[Event]): Long =
    evs.map(e => 32L + e.eventType.length + e.props.length).sum

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length() }
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def same(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val extra = got.diff(want).take(2)
      val missing = want.diff(got).take(2)
      Some(s"$what: ${got.size} rows, expected ${want.size}; " +
        s"unexpected ${extra.mkString("[", "; ", "]")} " +
        s"missing ${missing.mkString("[", "; ", "]")}")
    }

  def sameSet(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    same(what, got.sorted, want.sorted)

  val EntryCols: Seq[String] = Seq("space", "segment", "sequence", "ts_us",
    "value", "payload")

  def rows(ctx: Ctx, df: DataFrame): Seq[String] =
    ctx.collect(df.select(EntryCols.map(col): _*))
}

/** Read operations of the consume surface, shared by both log workloads.
  * `store` gives the store to read (the raw-layout one, or the produced
  * layout re-opened per operation). */
abstract class LogReads(ctx: Ctx) extends Workload {
  protected def store(): GraftStore
  protected def ref: LogRef
  protected var maxTsUs: Long = 0L

  import Log._

  private def pick[T](rng: SplittableRandom, xs: IndexedSeq[T]): T =
    xs(rng.nextInt(xs.size))

  /** A read through the store facade. Its expected rows are computed
    * here, when the operation is drawn, so the check can run later. */
  private def read(kind: String, what: String, want: Seq[String],
      ordered: Boolean = true, entryRows: Boolean = true)(
      call: GraftStore => DataFrame): Op =
    Op(kind, "read", () => {
      val df = ctx.make("api")(call(store()))
      val got = if (entryRows) rows(ctx, df) else ctx.collect(df)
      Outcome(got, if (ordered) same(what, _, want) else sameSet(what, _, want))
    })

  protected def readOp(kind: String, rng: SplittableRandom): Op = {
    val keys = ref.keys
    val (sp, sg) = pick(rng, keys)
    val spaces = ref.spaces
    def randomTs = Gen.T0Us + (rng.nextDouble() * (maxTsUs - Gen.T0Us)).toLong
    kind match {
      case "segment_consume" =>
        val es = ref.segment(sp, sg)
        if (rng.nextBoolean()) {
          val a = 1L + rng.nextInt(es.size)
          val b = a + rng.nextInt(40)
          read(kind, "segment seq window",
            es.filter(e => e.seq >= a && e.seq <= b).map(_.row))(
            _.space(sp).segment(sg).consume(minSeq = Some(a), maxSeq = Some(b)))
        } else {
          val t = es(rng.nextInt(es.size)).tsUs
          val t1 = t + 5L * 86400L * 1000000L
          read(kind, "segment ts window",
            es.filter(e => e.tsUs >= t && e.tsUs <= t1).take(50).map(_.row))(
            _.space(sp).segment(sg).consume(minTsUs = Some(t),
              maxTsUs = Some(t1), limit = Some(50)))
        }
      case "space_consume" =>
        val t = randomTs
        val t1 = t + 86400L * 1000000L
        read(kind, "space window", ref.space(sp)
          .filter(e => e.tsUs >= t && e.tsUs <= t1).take(200).map(_.row))(
          _.space(sp).consume(Some(t), Some(t1), Some(200)))
      case "consume_from" =>
        val es = ref.segment(sp, sg)
        val anchor = es(rng.nextInt(es.size))
        read(kind, "space cursor", ref.after(sp, anchor).take(200).map(_.row))(
          _.space(sp).consumeFrom(sg, anchor.seq, Some(200)))
      case "store_consume" =>
        val chosen = spaces.filter(_ => rng.nextInt(3) > 0).take(3)
        val offs = (if (chosen.isEmpty) spaces.take(1) else chosen).map { s =>
          val (_, g) = pick(rng, keys.filter(_._1 == s))
          val es = ref.segment(s, g)
          s -> (g, es(rng.nextInt(es.size)).seq)
        }.toMap
        read(kind, "store offsets", ref.consume(offs, 300).map(_.row))(
          _.consume(offs, limit = Some(300)))
      case "peek" =>
        read(kind, "peek", ref.segment(sp, sg).lastOption.map(_.row).toSeq)(
          _.space(sp).segment(sg).peek)
      case "peek_all" =>
        read(kind, "peekAll", ref.peek(sp).map(_.row), ordered = false)(
          _.space(sp).peekAll)
      case "tail" =>
        val k = 1 + rng.nextInt(3)
        read(kind, s"tail($k)", ref.tail(sp, k).map(_.row), ordered = false)(
          _.space(sp).tail(k))
      case "listing" =>
        rng.nextInt(3) match {
          case 0 => read(kind, "spaces", spaces, entryRows = false)(_.spaces)
          case 1 => read(kind, "segments",
            keys.filter(_._1 == sp).map(_._2).sorted.map(g => s"$sp|$g"),
            entryRows = false)(_.space(sp).segments)
          case _ => read(kind, "status", ref.status, entryRows = false)(
            _.status.orderBy("space"))
        }
      case "replay" =>
        if (rng.nextBoolean()) {
          val after = rng.nextInt(60).toLong
          read(kind, s"replayState($after)", ref.state(sp, _.seq > after),
            ordered = false, entryRows = false)(_.space(sp).replayState(after))
        } else {
          val t = randomTs
          read(kind, "stateAsOf", ref.state(sp, _.tsUs <= t), ordered = false,
            entryRows = false)(_.space(sp).stateAsOf(t))
        }
    }
  }
}

/** `log_consume`: the read surface over the raw event table. */
final class LogConsume(ctx: Ctx) extends LogReads(ctx) {
  private val nEvents = if (ctx.tiny) 2000 else 100000
  private val nUsers = if (ctx.tiny) 40 else 1500
  private val dir = ctx.path("log")
  private var events: Vector[Event] = Vector.empty
  private var reference: LogRef = _
  private lazy val graft = GraftStore(ctx.spark, dir)

  protected def store(): GraftStore = graft
  protected def ref: LogRef = reference

  def prepare(): Unit = {
    events = Gen.events(new SplittableRandom(ctx.seed), nEvents, nUsers)
    Log.writeEvents(ctx, events, dir)
    // the reference is built from the events as read back from disk
    val back = EventLog.raw(ctx.spark, dir)
      .selectExpr("event_id", "unix_micros(cast(ts as timestamp))", "user_id",
        "event_type", "cast(floor(value * 100 + 0.5) as long)", "props")
      .collect().map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getString(5)))
    reference = new LogRef(back.toSeq)
    maxTsUs = events.map(_.tsUs).max
  }

  val deck: Seq[String] = Seq.fill(4)("segment_consume") ++
    Seq.fill(2)("space_consume") ++ Seq.fill(2)("consume_from") ++
    Seq.fill(2)("store_consume") ++ Seq.fill(2)("peek") ++
    Seq("peek_all", "tail", "listing", "replay")

  def op(kind: String, rng: SplittableRandom): Op = readOp(kind, rng)
  def tailPercentile: Double = 75.0

  def inputBytes: Long = Log.rawBytes(events)
  def storedBytes: Long = Log.dirBytes(new File(dir))
  def storeRoot: String = dir
}

/** `log_produce`: appends through the produce path beside reads of the
  * same produced layout, with periodic compaction. */
final class LogProduce(ctx: Ctx) extends LogReads(ctx) {
  private val nEvents = if (ctx.tiny) 2000 else 100000
  private val nUsers = if (ctx.tiny) 40 else 1500
  private val batchSize = if (ctx.tiny) 40 else 400
  private val in = ctx.path("in")
  private val layout = ctx.path("produced")
  private var reference: LogRef = _
  private var nextId = 0L
  private var appendedBytes = 0L
  private var initialBytes = 0L
  private val pending = scala.collection.mutable.Queue[Seq[Entry]]()

  protected def store(): GraftStore = GraftStore.fromProduced(ctx.spark, layout)
  protected def ref: LogRef = reference

  def prepare(): Unit = {
    val events = Gen.events(new SplittableRandom(ctx.seed), nEvents, nUsers)
    Log.writeEvents(ctx, events, in)
    EventLogWriter.write(EventLog.entries(ctx.spark, in), layout)
    reference = new LogRef(events)
    nextId = events.size.toLong
    maxTsUs = events.map(_.tsUs).max
    initialBytes = Log.rawBytes(events)
    appendedBytes = 0L
    pending.clear()
  }

  val deck: Seq[String] = Seq("append", "append", "read_back", "read_back",
    "segment_consume", "segment_consume", "peek", "tail", "replay", "compact")

  private val BatchSchema = StructType(Seq(
    StructField("space", StringType), StructField("segment", StringType),
    StructField("ts_us", LongType), StructField("event_id", LongType),
    StructField("value", DoubleType), StructField("payload", StringType)))

  def op(kind: String, rng: SplittableRandom): Op = kind match {
    case "append" =>
      // a batch after the current tail: mostly existing segments, a few new
      val keys = reference.keys
      val evs = (0 until batchSize).map { i =>
        maxTsUs += 1 + rng.nextInt(2000000)
        val (sp, sg) =
          if (rng.nextInt(20) == 0) (Gen.Spaces(rng.nextInt(5)),
            (nUsers + rng.nextInt(nUsers)).toString)
          else keys(rng.nextInt(keys.size))
        Event(nextId + i, maxTsUs, sg.toLong, sp, Gen.centsOf(rng),
          s"""{"k": ${rng.nextInt(100)}}""")
      }
      nextId += batchSize
      Op(kind, "write", () => {
        val batch = ctx.make("input")(ctx.spark.createDataFrame(
          java.util.Arrays.asList(evs.map(e => Row(e.eventType,
            e.userId.toString, e.tsUs, e.eventId, e.value, e.props)): _*),
          BatchSchema))
        val s = store()
        val (seqd, violations) = ctx.make("operators") {
          val tail = StreamOps.segmentStatus(s.entries)
          val seqd = EventLogWriter.assignSequences(batch, Some(tail))
          (seqd, EventLogWriter.validateAppend(seqd, tail))
        }
        val bad = ctx.collect(violations)
        if (bad.nonEmpty)
          Outcome(bad, _ => Some(s"validateAppend rejected: ${bad.take(2)}"))
        else {
          ctx.mat("sources.write")(
            EventLogWriter.write(seqd, layout, SaveMode.Append))
          pending.enqueue(reference.add(evs))
          appendedBytes += Log.rawBytes(evs)
          Outcome(Nil, _ => None, exact = false)
        }
      })
    case "read_back" =>
      // read-your-write: the segments the oldest unread append touched
      val touched = if (pending.nonEmpty) pending.dequeue() else Nil
      val segs = touched.groupBy(e => (e.space, e.segment)).toVector
        .sortBy(_._1).take(3)
      if (segs.isEmpty) readOp("segment_consume", rng)
      else {
        val want = segs.flatMap { case ((sp, sg), es) =>
          val first = es.map(_.seq).min
          reference.segment(sp, sg).filter(_.seq >= first).map(_.row)
        }
        Op(kind, "read", () => {
          val s = store()
          val got = segs.flatMap { case ((sp, sg), es) =>
            val first = es.map(_.seq).min
            Log.rows(ctx, ctx.make("api")(s.space(sp).segment(sg)
              .consume(minSeq = Some(first))))
          }
          Outcome(got, Log.same("read back", _, want))
        })
      }
    case "compact" =>
      Op(kind, "write", () => {
        val audit = ctx.mat("sources.write")(
          EventLogWriter.compact(ctx.spark, layout))
        val got = ctx.collect(audit.select("space", "n_files_before",
          "n_files_after"))
        Outcome(got, rs => {
          val bad = rs.map(_.split('|')).filter(a => a(2).toLong > 1L)
          if (bad.isEmpty && rs.size == reference.spaces.size) None
          else Some(s"compact left ${rs.mkString(", ")}")
        }, exact = false)
      })
    case other => readOp(other, rng)
  }

  def tailPercentile: Double = 60.0
  def inputBytes: Long = initialBytes + appendedBytes
  def storedBytes: Long = Log.dirBytes(new File(layout))
  def storeRoot: String = layout
}
