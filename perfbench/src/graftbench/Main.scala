package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** What one operation produced: its result rows in a canonical string
  * form, and the check that compares them with the reference. `exact`
  * marks checks that demand equality, the ones a planted corruption
  * (self-test) must trip. */
final case class Outcome(rows: Seq[String], check: Seq[String] => Option[String],
    exact: Boolean = true)

/** One operation of a workload's mix. `cls` is "read", "probe" or "write";
  * `body` makes its calls through [[Ctx.make]] / [[Ctx.mat]] so each call
  * is timed by layer. */
final case class Op(kind: String, cls: String, body: () => Outcome)

/** A workload: set-up, an optional timed artifact build, and a seeded,
  * fixed-share operation mix. */
trait Workload {
  /** One set-up: generate the inputs, write them, build the references. */
  def prepare(): Unit
  /** The timed build of a persisted artifact, if the workload has one. */
  def build(): Unit = ()
  def hasBuild: Boolean = false
  /** Operation kinds with their multiplicity in one cycle of the mix. */
  def deck: Seq[String]
  def op(kind: String, rng: SplittableRandom): Op
  /** Raw bytes of the inputs the workload stored, and their size on disk. */
  def inputBytes: Long
  def storedBytes: Long
  /** Directory whose data files count as `sources.files_live`. */
  def storeRoot: String
  /** The percentile `lat_tail_ms` reports: the highest of 99.9, 99.5, 99,
    * 98, 95, 90, 85, 80, 75, 70, 60 that leaves at least ten operations
    * beyond it at the workload's usual operation count per run. Fixed per
    * workload, so that runs with more or fewer operations stay comparable;
    * the report gives the actual count beyond it. */
  def tailPercentile: Double
  /** Extra end-to-end figures of this workload only (name -> value, unit). */
  def extra(loopWallS: Double, ops: Int): Seq[(String, Double, String)] = Nil
}

/** Per-run context shared by the workloads: the session, the scratch
  * directory and the timing of calls into the library. */
final class Ctx(val spark: SparkSession, val work: String, val tiny: Boolean,
    val seed: Long, val cores: Int) {
  val segs = ArrayBuffer[Seg]()

  /** A call that returns a lazy frame (or another plan-only value). */
  def make[T](layer: String)(f: => T): T = timed("make", layer)(f)

  /** A call that runs Spark work: a collect, or an eager write/build. */
  def mat[T](layer: String)(f: => T): T = timed("materialize", layer)(f)

  private def timed[T](kind: String, layer: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally segs.synchronized {
      segs += Seg(kind, layer, t0, System.nanoTime()) }
  }

  def path(name: String): String = new File(work, name).getPath

  /** Collect a frame, rendering each row with `Row.mkString("|")`. */
  def collect(df: org.apache.spark.sql.DataFrame): Seq[String] =
    mat("collect")(df.collect()).toSeq.map(_.mkString("|"))
}

object Main {
  private final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, plant: Boolean, work: String,
      traceOut: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", m.get("--scale").contains("tiny"),
      m.get("--plant").contains("1"), need("--work"),
      m.getOrElse("--trace-out", need("--work")))
  }

  /** Record of one operation run by the loop. */
  final class OpRun(val i: Int, val kind: String, val cls: String,
      val traced: Boolean) {
    var t0, t1 = 0L
    var epochMs0 = 0L
    var segs: Seq[Seg] = Nil
    var results = 0L
    var error: Option[String] = None
    var jobs: Seq[JobRec] = Nil
    var io: OpIo = new OpIo
    var gcMs = 0L
    var filesWritten = 0L
    def wallMs: Double = (t1 - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val env = Env.capture()
    val tStart = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(o.work, "tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(200000).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - tStart) / 1e9
    try run(o, env, spark, cores, sessionS) finally spark.stop()
    sys.exit(0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Latency quantile of the workload's mix: each operation weighs its
    * kind's share of the deck divided by the number of operations of that
    * kind in the run, so the estimate does not depend on which kinds the
    * last, incomplete cycle of the deck happened to hold. */
  private def mixQuantile(runs: Seq[OpRun], share: Map[String, Double],
      q: Double): Double = {
    val n = runs.groupBy(_.kind).map { case (k, rs) => k -> rs.size }
    val s = runs.map(r => (r.wallMs, share.getOrElse(r.kind, 0.0) / n(r.kind)))
      .sortBy(_._1)
    val total = s.map(_._2).sum
    var acc = 0.0
    if (s.isEmpty) 0.0
    else s.find { case (_, w) => acc += w; acc >= q * total * (1 - 1e-9) }
      .map(_._1).getOrElse(s.last._1)
  }

  /** Mean operation latency of the mix: each kind's mean weighted by its
    * deck share, over the kinds the run holds. One client in a closed
    * loop completes 1000 / this many operations per second. */
  private def mixMean(runs: Seq[OpRun], share: Map[String, Double]): Double = {
    val byKind = runs.groupBy(_.kind).map { case (k, rs) =>
      (share.getOrElse(k, 0.0), rs.map(_.wallMs).sum / rs.size) }
    byKind.map { case (w, m) => w * m }.sum / math.max(1e-12, byKind.map(_._1).sum)
  }

  private def workloadOf(name: String, ctx: Ctx): Workload = name match {
    case "log_consume" => new LogConsume(ctx)
    case "log_produce" => new LogProduce(ctx)
    case "index_serve" => new IndexServe(ctx)
    case "corpus_batch" => new CorpusBatch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gcMsNow(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Paths of the data files under `root` (no hidden or marker files). */
  private def dataFiles(root: File): Set[String] =
    if (!root.exists()) Set.empty
    else if (root.isFile)
      (if (root.getName.startsWith(".") || root.getName.startsWith("_")) Set.empty
       else Set(root.getPath))
    else Option(root.listFiles()).toSeq.flatten.flatMap(dataFiles).toSet

  private def run(o: Opts, env: Seq[(String, Any)], spark: SparkSession,
      cores: Int, sessionS: Double): Unit = {
    val ctx = new Ctx(spark, o.work, o.tiny, o.seed, cores)
    val wl = workloadOf(o.workload, ctx)

    // set-up: the inputs are generated and written several times and the
    // median is kept, so set-up time is steady enough to gate on
    val reps = if (o.tiny) 1 else 3
    val prepS = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); wl.prepare(); (System.nanoTime() - t0) / 1e9
    }
    val tracer = if (o.trace) Some(new SparkTrace(spark)) else None
    // the timed build of the persisted artifacts (index_serve); not set-up
    ctx.segs.clear()
    val tb = System.nanoTime()
    if (wl.hasBuild) wl.build()
    val buildS = (System.nanoTime() - tb) / 1e9
    val buildSegs = ctx.segs.toVector
    // warm-up, not recorded: the mix with a seed of its own, one operation
    // of each kind first, on a few client threads for 0.6 of the run length,
    // so the JIT has compiled the planner and the generated code before
    // timing starts. Drawing an operation and running a write hold one
    // lock, since both change the workload's state; reads run side by side.
    val tw = System.nanoTime()
    val warmEnd = tw + (o.seconds * 0.6 * 1e9).toLong
    val warmRng = new SplittableRandom(o.seed ^ 0x5eedL)
    val lock = new Object
    var warmDeck = wl.deck.distinct.toVector
    val firstOfEach = new java.util.concurrent.atomic.AtomicInteger(warmDeck.size)
    def nextWarm(): Op = lock.synchronized {
      if (warmDeck.isEmpty) warmDeck = shuffle(wl.deck.toVector, warmRng)
      val op = wl.op(warmDeck.head, warmRng)
      warmDeck = warmDeck.tail
      op
    }
    val nThreads = math.max(1, math.min(3, cores - 1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    try (1 to nThreads).map(_ => pool.submit(new Runnable {
      def run(): Unit =
        while (System.nanoTime() < warmEnd || firstOfEach.get() > 0) {
          firstOfEach.decrementAndGet()
          try {
            val op = nextWarm()
            if (op.cls == "write") lock.synchronized(op.body()) else op.body()
          } catch { case _: Throwable => () }
        }
    })).foreach(_.get())
    finally pool.shutdown()
    ctx.segs.clear()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(prepS) + warmS

    // the closed loop: one client, the next operation starts when the
    // previous one returned
    val rng = new SplittableRandom(o.seed)
    val runs = ArrayBuffer[OpRun]()
    val failures = ArrayBuffer[String]()
    val outcomes = ArrayBuffer[(OpRun, Either[Throwable, Outcome])]()
    var deck = Vector.empty[String]
    var liveFiles =
      if (tracer.isDefined) dataFiles(new File(wl.storeRoot)) else Set.empty[String]
    val loopStart = System.nanoTime()
    val deadline = loopStart + (o.seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      if (deck.isEmpty) deck = shuffle(wl.deck.toVector, rng)
      val kind = deck.head
      deck = deck.tail
      val i = runs.size
      // traced runs alternate traced and untraced operations; the
      // untraced ones measure the tracing overhead
      val traced = tracer.isDefined && i % 2 == 0
      val op = wl.op(kind, rng)
      val r = new OpRun(i, kind, op.cls, traced)
      ctx.segs.clear()
      val io = tracer.map(_.begin())
      if (traced) spark.sparkContext.setJobGroup(s"op-$i", kind)
      val gc0 = gcMsNow()
      r.epochMs0 = System.currentTimeMillis()
      r.t0 = System.nanoTime()
      val outcome = try Right(op.body()) catch { case t: Throwable => Left(t) }
      r.t1 = System.nanoTime()
      r.gcMs = gcMsNow() - gc0
      if (traced) spark.sparkContext.clearJobGroup()
      r.segs = ctx.segs.toVector
      tracer.foreach { t =>
        val jobs = t.finish(s"op-$i")
        if (traced) { r.jobs = jobs; r.io = io.get }
      }
      if (tracer.isDefined) {
        val now = dataFiles(new File(wl.storeRoot))
        if (traced) r.filesWritten = now.diff(liveFiles).size
        liveFiles = now
      }
      outcomes += ((r, outcome))
      runs += r
    }
    val loopWallS = (System.nanoTime() - loopStart) / 1e9

    // every result is checked after the loop, so the client issues its next
    // operation as soon as the previous one returns
    outcomes.foreach { case (r, outcome) =>
      r.error = outcome match {
        case Left(t) =>
          Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
        case Right(out) =>
          r.results = out.rows.size
          val rows =
            if (o.plant && out.exact && r.i % 5 == 2) plantWrong(out.rows)
            else out.rows
          try out.check(rows).map(m => s"wrong result: ${m.take(300)}")
          catch { case t: Throwable =>
            Some(s"check raised ${t.getClass.getName}: ${t.getMessage}") }
      }
      r.error.foreach(e => failures += s"op ${r.i} ${r.kind}: $e")
    }

    val timed = runs.filterNot(_.traced).toVector
    val share = wl.deck.groupBy(identity).map { case (k, ks) =>
      k -> ks.size.toDouble / wl.deck.size }
    val reads = timed.filter(_.cls != "write")
    val writes = timed.filter(_.cls == "write")
    val tailP = wl.tailPercentile
    val tailBeyond = timed.size - math.ceil(tailP / 100.0 * timed.size).toInt
    val rssMb = Env.vmHwmKb() / 1024.0
    val stored = wl.storedBytes
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("lat_p50_ms", mixQuantile(timed, share, 0.5), "ms"),
      ("lat_tail_ms", mixQuantile(timed, share, tailP / 100.0), "ms"),
      ("read_p50_ms", mixQuantile(reads, share, 0.5), "ms"),
      ("ops_per_s", 1000.0 / mixMean(timed, share), "1/s"),
      ("bytes_stored_ratio", stored.toDouble / math.max(1L, wl.inputBytes), "ratio"),
      ("rss_peak_mb", rssMb, "MB"))
    val attempted = runs.size
    val failed = runs.count(_.error.isDefined)
    val extraE2e =
      (if (wl.hasBuild) Seq(("build_s", buildS, "s")) else Nil) ++
      (if (writes.nonEmpty) Seq(("write_p50_ms", mixQuantile(writes, share, 0.5),
        "ms")) else Nil) ++
      wl.extra(loopWallS, runs.size) ++
      Seq(("failed_ratio", failed.toDouble / math.max(1, attempted), "ratio"))

    println(Json.obj(Seq("report" -> "env") ++ env ++ Seq(
      "cores_used" -> cores, "workload" -> o.workload, "seed" -> o.seed,
      "scale" -> (if (o.tiny) "tiny" else "full"), "trace" -> o.trace)))
    println(Json.obj(Seq("report" -> "end_to_end",
      "ops" -> attempted, "timed_ops" -> timed.size,
      "read_ops" -> reads.size, "write_ops" -> writes.size,
      "lat_tail_percentile" -> tailP, "lat_tail_samples_beyond" -> tailBeyond,
      "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
      "loop_wall_s" -> loopWallS,
      "stored_bytes" -> stored, "input_bytes" -> wl.inputBytes) ++
      (e2e ++ extraE2e).map { case (n, v, u) => n -> Json.metric(v, u) } ++
      Seq("per_kind" -> Json.Raw(Json.obj(timed.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, rs) => k -> Json.Raw(Json.obj(Seq("n" -> rs.size,
          "p50_ms" -> median(rs.map(_.wallMs))))) })),
      "op_ms" -> runs.map(r => f"${r.kind}:${r.wallMs}%.1f").toVector)))
    println(Json.obj(Seq("report" -> "failures", "failed" -> failed,
      "causes" -> failures.take(20).toVector)))
    System.out.flush()

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e
      else PerLayer.metrics(runs.toVector, buildSegs, cores,
        dataFiles(new File(wl.storeRoot)).size)
    if (o.trace) {
      val f = new File(o.traceOut, s"${o.workload}-${o.seed}.jsonl")
      PerLayer.writeSpans(f, runs.filter(_.traced).toVector)
      println(Json.obj(Seq("report" -> "per_layer",
        "traced_ops" -> runs.count(_.traced), "spans_file" -> f.getPath) ++
        metrics.map { case (n, v, u) => n -> Json.metric(v, u) }))
    }
    println(Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics.map {
        case (n, v, u) => n -> Json.metric(v, u) })))))
  }

  /** A planted wrong result: the first row dropped, or one made up. */
  private def plantWrong(rows: Seq[String]): Seq[String] =
    if (rows.nonEmpty) rows.tail else Seq("planted")

  private def shuffle[T](xs: Vector[T], rng: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}
