package graftbench

import java.io.{File, PrintWriter}

import Main.OpRun

/** Per-layer metrics of a traced run, from the traced operations only
  * (every other operation of a traced run runs untraced and measures the
  * tracing overhead). Unless a name says otherwise a figure is a mean per
  * traced operation. */
object PerLayer {

  /** Union of intervals, as a sorted disjoint list. */
  private def union(iv: Seq[(Double, Double)]): Vector[(Double, Double)] =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(Vector.empty[(Double, Double)]) {
        case (acc :+ ((a, b)), (c, d)) if c <= b => acc :+ ((a, math.max(b, d)))
        case (acc, x) => acc :+ x
      }

  private def covered(u: Vector[(Double, Double)], a: Double, b: Double): Double =
    u.map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum

  /** Per-operation decomposition of the wall: make self time (the make
    * calls not covered by a job), job time (the union of the operation's
    * job intervals) and the driver gap outside make; the three sum to the
    * wall. Times are epoch milliseconds. */
  final case class Split(o0: Double, o1: Double, makeSelf: Double,
      jobs: Double, gapOutsideMake: Double, jobIv: Vector[(Double, Double)],
      makeIv: Seq[(String, Double, Double)])

  def split(r: OpRun): Split = {
    val o0 = r.epochMs0.toDouble
    val o1 = o0 + r.wallMs
    def ms(t: Long) = o0 + (t - r.t0) / 1e6
    val jobIv = union(r.jobs.filter(_.end >= 0).map(j =>
      (math.max(o0, j.start.toDouble), math.min(o1, j.end.toDouble))))
    val makes = r.segs.filter(_.kind == "make")
      .map(s => (s.layer, ms(s.t0), ms(s.t1)))
    val makeU = union(makes.map(m => (m._2, m._3)))
    val makeSelf = makeU.map { case (a, b) => (b - a) - covered(jobIv, a, b) }.sum
    val jobs = jobIv.map { case (a, b) => b - a }.sum
    Split(o0, o1, makeSelf, jobs, r.wallMs - makeSelf - jobs, jobIv, makes)
  }

  def metrics(runs: Vector[OpRun], buildSegs: Seq[Seg], cores: Int,
      filesLive: Long): Seq[(String, Double, String)] = {
    val tr = runs.filter(_.traced)
    val n = math.max(1, tr.size).toDouble
    val splits = tr.map(split)
    def segMs(r: OpRun, kind: String, p: String => Boolean) =
      r.segs.filter(s => s.kind == kind && p(s.layer))
        .map(s => (s.t1 - s.t0) / 1e6).sum
    def perOp(f: OpRun => Double) = tr.map(f).sum / n
    val jobs = tr.flatMap(_.jobs)
    val wallSum = tr.map(_.wallMs).sum
    val readers = tr.filter(_.cls != "write")
    val probes = tr.filter(_.cls == "probe")
    def ratio(num: Double, den: Double) = if (den <= 0) 0.0 else num / den
    val cpuMs = jobs.map(_.cpuNs).sum / 1e6
    // tracing overhead: per kind, median traced over median untraced
    // latency; the geometric mean of those ratios, minus one
    val ratios = runs.groupBy(_.kind).values.flatMap { rs =>
      val (t, u) = rs.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some(med(t.map(_.wallMs)) / med(u.map(_.wallMs)))
    }.filter(r => r > 0 && !r.isInfinite)
    val overhead =
      if (ratios.isEmpty) 0.0
      else math.exp(ratios.map(math.log).sum / ratios.size) - 1.0
    val buildMs = buildSegs.filter(_.layer == "sources.build")
      .map(s => (s.t1 - s.t0) / 1e6).sum
    Seq(
      ("graft.make_ms", perOp(segMs(_, "make", Set("api", "operators"))), "ms"),
      ("api.make_ms", perOp(segMs(_, "make", _ == "api")), "ms"),
      ("operators.make_ms", perOp(segMs(_, "make", _ == "operators")), "ms"),
      ("driver.gap_ms", splits.map(s => s.makeSelf + s.gapOutsideMake).sum / n, "ms"),
      ("driver.gap_share", ratio(splits.map(s => s.makeSelf + s.gapOutsideMake).sum,
        wallSum), "ratio"),
      ("sched.jobs_per_op", jobs.size / n, "count"),
      ("sched.stages_per_op", jobs.map(_.stages).sum / n, "count"),
      ("sched.tasks_per_op", jobs.map(_.tasks).sum / n, "count"),
      ("sched.job_ms", ratio(jobs.filter(_.end >= 0).map(j => (j.end - j.start)
        .toDouble).sum, jobs.size), "ms"),
      ("sources.files_read", perOp(_.io.filesRead.toDouble), "count"),
      ("sources.bytes_read", perOp(_.jobs.map(_.bytesRead).sum.toDouble), "bytes"),
      ("sources.rows_read", perOp(_.jobs.map(_.rowsRead).sum.toDouble), "count"),
      ("sources.rows_read_per_result", ratio(
        readers.flatMap(_.jobs).map(_.rowsRead).sum.toDouble,
        readers.map(_.results).sum.toDouble), "ratio"),
      ("sources.write_ms", perOp(segMs(_, "materialize", _ == "sources.write")), "ms"),
      ("sources.files_written", perOp(_.filesWritten.toDouble), "count"),
      ("sources.bytes_written", perOp(_.jobs.map(_.bytesWritten).sum.toDouble), "bytes"),
      ("sources.files_live", filesLive.toDouble, "count"),
      ("sources.build_ms", buildMs, "ms"),
      ("sources.append_ms", perOp(segMs(_, "materialize", _ == "sources.append")), "ms"),
      ("sources.catalog_ops", perOp(_.io.catalogOps.toDouble), "count"),
      ("index.rows_scanned_per_result", ratio(
        probes.flatMap(_.jobs).map(_.rowsRead).sum.toDouble,
        probes.map(_.results).sum.toDouble), "ratio"),
      ("exchange.shuffles_per_op", jobs.map(_.shuffles).sum / n, "count"),
      ("exchange.shuffle_write_bytes", jobs.map(_.shWrite).sum / n, "bytes"),
      ("exchange.shuffle_read_bytes", jobs.map(_.shRead).sum / n, "bytes"),
      ("compute.executor_cpu_ms", cpuMs / n, "ms"),
      ("compute.executor_run_ms", jobs.map(_.runMs).sum / n, "ms"),
      ("compute.core_util", ratio(cpuMs, wallSum * cores), "ratio"),
      ("compute.spill_bytes", jobs.map(_.spill).sum / n, "bytes"),
      ("compute.gc_ms", perOp(_.gcMs.toDouble), "ms"),
      ("trace.overhead_share", overhead, "ratio"))
  }

  private def med(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Write the spans of the traced operations as JSON lines. */
  def writeSpans(f: File, runs: Vector[OpRun]): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try runs.foreach { r =>
      val s = split(r)
      val root = s"op-${r.i}"
      w.println(Spans.line(r.i, root, "", s"op:${r.kind}", s.o0, s.o1, 0.0,
        Seq("cls" -> r.cls, "wall_ms" -> r.wallMs, "results" -> r.results,
          "ok" -> r.error.isEmpty)))
      // make spans: self time is the part no job covers
      s.makeIv.zipWithIndex.foreach { case ((layer, a, b), k) =>
        val self = (b - a) - s.jobIv.map { case (c, d) =>
          math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum
        w.println(Spans.line(r.i, s"$root.make$k", root, s"make:$layer", a, b,
          self, Nil))
      }
      // one materialize span for the driver time outside make and jobs
      w.println(Spans.line(r.i, s"$root.materialize", root, "materialize",
        s.o0, s.o1, s.gapOutsideMake, Nil))
      r.jobs.foreach { j =>
        w.println(Spans.line(r.i, s"$root.job${j.id}", root, "job",
          j.start.toDouble, j.end.toDouble,
          math.max(0.0, j.end - j.start).toDouble,
          Seq("stages" -> j.stages, "tasks" -> j.tasks,
            "shuffles" -> j.shuffles, "cpu_ms" -> j.cpuNs / 1e6,
            "run_ms" -> j.runMs, "rows_read" -> j.rowsRead,
            "bytes_read" -> j.bytesRead, "shuffle_write" -> j.shWrite,
            "shuffle_read" -> j.shRead, "spill" -> j.spill)))
      }
      w.println(Json.obj(Seq("op" -> r.i, "check" -> "self_sum",
        "make_self_ms" -> s.makeSelf, "job_ms" -> s.jobs,
        "gap_ms" -> s.gapOutsideMake, "wall_ms" -> r.wallMs)))
    } finally w.close()
  }
}
