package graft

import java.nio.file.Files
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.GraftStore
import graft.sources.{EventLog, EventLogWriter}

class ApiSpec extends SparkSpec {

  lazy val store = GraftStore(spark, SF)

  test("facade: spaces/segments/status compose with operators") {
    assert(store.spaces.count() == 5)
    val seg = store.space("click").segments.count()
    assert(seg > 0)
    val peeked = store.space("click").peekAll
    assert(peeked.count() == seg)
    val one = store.space("click").segment("1").consume(limit = Some(5))
    assert(one.count() == 5)
  }

  test("facade snapshot/replayFrom, tail, validate and audits compose") {
    val sp = store.space("purchase")
    val viaSnap = sp.replayFrom(sp.snapshot(20L))
      .orderBy("segment").collect().map(_.toSeq).toSeq
    val full = sp.replayState().orderBy("segment").collect()
      .map(_.toSeq).toSeq
    assert(viaSnap == full)
    assert(sp.tail(2).count() == sp.segments.count() * 2)
    // the diff between t and t over the full span is empty; a diff from
    // 0 to the far future flags every segment as changed
    assert(sp.stateDiff(Long.MaxValue, Long.MaxValue).count() == 0)
    assert(sp.stateDiff(0L, Long.MaxValue).count() == sp.segments.count())
    assert(store.validate.filter(!col("contiguous")).count() == 0)
    assert(store.trxAudit().filter(!col("contiguous")).count() == 0)
    assert(store.watermarkAudit(300000000L).count() == 5)
  }

  test("facade peek equals consume tail") {
    val s = store.space("purchase").segment("7")
    val last = s.consume().orderBy(col("sequence").desc).limit(1)
      .select("sequence").head.getLong(0)
    assert(s.peek.select("sequence").head.getLong(0) == last)
  }

  test("produced layout round-trips and needs no window derivation") {
    val dir = Files.createTempDirectory("graft_produced").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val back = EventLogWriter.readProduced(spark, dir)
    val a = back.orderBy("space", "segment", "sequence").collect()
    val b = EventLog.entries(spark, SF)
      .select("space", "segment", "sequence", "ts_us", "event_id", "value",
        "payload")
      .orderBy("space", "segment", "sequence").collect()
    assert(a.sameElements(b))
  }

  test("produced-layout store serves the same answers as the derived store") {
    val dir = Files.createTempDirectory("graft_prod_store").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val prod = GraftStore.fromProduced(spark, dir)
    val derived = GraftStore(spark, SF)
    val a = prod.space("click").segment("1").consume().collect()
      .map(_.toSeq).toSeq
    val b = derived.space("click").segment("1").consume().collect()
      .map(_.toSeq).toSeq
    assert(a == b)
    assert(prod.spaces.count() == derived.spaces.count())
  }

  test("produce validation accepts a contiguous append and rejects a gap") {
    val dir = Files.createTempDirectory("graft_tail").toString
    EventLogWriter.write(EventLog.entries(spark, SF), dir)
    val tail = graft.operators.StreamOps.segmentStatus(
      EventLog.named(spark, SF))
    // contiguous: shift every segment's entries up by its own tail
    val batch = EventLogWriter.assignSequences(
      EventLog.named(spark, SF), Some(tail))
    assert(EventLogWriter.validateAppend(batch, tail).count() == 0)
    // gap: skip one sequence number
    val gappy = batch.withColumn("sequence", col("sequence") + 1L)
    val violations = EventLogWriter.validateAppend(gappy, tail)
    assert(violations.count() > 0)
  }

  test("trx ids persist through the produced layout and recovery audit flags a torn batch") {
    val dir = Files.createTempDirectory("graft_trx").toString
    val stamped = EventLogWriter.assignTrx(
      EventLog.entries(spark, SF, Some("error")), batchSize = 10)
    EventLogWriter.write(stamped, dir)
    val back = spark.read.parquet(dir)
    // persisted ids round-trip exactly
    val a = stamped.select("space", "segment", "sequence", "trx_id")
      .orderBy("space", "segment", "sequence").collect().map(_.toSeq).toSeq
    val b = back.select("space", "segment", "sequence", "trx_id")
      .orderBy("space", "segment", "sequence").collect().map(_.toSeq).toSeq
    assert(a == b)
    // on the intact log every transaction is contiguous
    val audit = EventLogWriter.trxAudit(back, 10)
    assert(audit.filter(!col("contiguous")).count() == 0)
    // tear one sealed batch (drop an interior entry) → exactly that trx
    // flags non-contiguous on recovery
    val victim = audit.filter(col("sealed")).select("trx_id")
      .orderBy("trx_id").head.getString(0)
    val torn = back.filter(!(col("trx_id") === victim &&
      col("sequence") === back.filter(col("trx_id") === victim)
        .agg(min(col("sequence")) + 1L).head.getLong(0)))
    val recovered = EventLogWriter.trxAudit(torn, 10)
    val bad = recovered.filter(!col("contiguous"))
      .select("trx_id").collect().map(_.getString(0)).toSeq
    assert(bad == Seq(victim))
  }

  test("snapshot + incremental replay equals full replay for every aggregate") {
    import graft.operators.EventSourcing
    val e = EventLog.entries(spark, SF, Some("purchase"))
    val full = EventSourcing.replayState(e, "purchase")
      .orderBy("segment").collect().map(_.toSeq).toSeq
    Seq(0L, 7L, 20L, 1000000L).foreach { at =>
      val viaSnap = EventSourcing.replayFromSnapshot(
        EventSourcing.snapshot(e, "purchase", at), e, "purchase")
        .orderBy("segment").collect().map(_.toSeq).toSeq
      assert(viaSnap == full, s"snapshot at seq $at diverged")
    }
  }

  test("compact merges small files, preserves data and the window-free layout") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val entries = EventLog.entries(spark, SF)
    // force a pathological small-file layout: one file per ~40 rows
    entries.repartition(col("space"), col("segment"))
      .sortWithinPartitions("segment", "sequence")
      .write.partitionBy("space")
      .option("maxRecordsPerFile", 40)
      .mode(SaveMode.Overwrite).parquet(dir)
    val before = EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet
    val audit = EventLogWriter.compact(spark, dir, targetBytes = 1L << 20)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit.size == 5)
    audit.foreach { case (sp, (nb, na, bytes)) =>
      assert(na <= nb, s"$sp grew: $nb -> $na")
      // each space is well under 1 MiB, so compaction must reach ONE file
      assert(bytes < (1L << 20) && na == 1L, s"$sp: $na files, $bytes B")
      assert(nb > 1L, s"test setup failed to fragment $sp")
    }
    // data unchanged, layout contract intact: window-free read-back and
    // per-file (segment, sequence) sort
    val after = EventLogWriter.readProduced(spark, dir)
    assert(after.collect().map(_.toSeq).toSet == before)
    assert(!after.filter(col("space") === "click")
      .queryExecution.executedPlan.toString.contains("Window"))
    val unsorted = after
      .withColumn("f", input_file_name())
      .withColumn("prev", lag(struct(col("segment"), col("sequence")), 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy("f")
          .orderBy(monotonically_increasing_id())))
      .filter(col("prev").isNotNull &&
        struct(col("segment"), col("sequence")) < col("prev"))
    assert(unsorted.count() == 0)
  }

  test("compact self-recovers every crash-leftover state") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_compact_crash").toString
    val entries = EventLog.entries(spark, SF)
    EventLogWriter.write(entries, dir)
    val expected = EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // crash between rename-aside and promote: live dir gone, aside holds
    // the only copy → compact must restore it before doing anything else
    fs.rename(new Path(root, "space=click"),
      new Path(root, ".compact_bak_space=click"))
    // crash after promote but before aside cleanup: both copies present
    fs.mkdirs(new Path(root, ".compact_bak_space=view"))
    // orphaned tmp from a crash mid-rewrite
    fs.mkdirs(new Path(root, ".compact_tmp_space=purchase"))
    EventLogWriter.compact(spark, dir, targetBytes = 1L << 20)
    assert(EventLogWriter.readProduced(spark, dir)
      .collect().map(_.toSeq).toSet == expected)
    val leftover = fs.listStatus(root)
      .map(_.getPath.getName).filter(_.startsWith(".compact_"))
    assert(leftover.isEmpty, leftover.mkString(","))
  }

  test("memoized store reads equal the same operators over EventLog.entries") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{EventSourcing, StreamOps}
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq
    def anyOrder(df: DataFrame): Seq[String] = rows(df).sorted
    def over(sp: String, sg: Option[String] = None) =
      EventLog.entries(spark, SF, Some(sp), sg)
    val all = EventLog.entries(spark, SF)
    val pick = all.filter(col("sequence") === 6L).orderBy("space", "segment")
      .select("space", "segment").head
    val (sp, sg) = (pick.getString(0), pick.getString(1))
    val t = over(sp, Some(sg)).filter(col("sequence") === 3L)
      .select("ts_us").head.getLong(0)
    val day = 86400L * 1000000L
    val seg = store.space(sp).segment(sg)
    val offs = Map(sp -> (sg, 3L), "view" -> ("no-such-segment", 1L))

    // segment_consume, space_consume, consume_from, store_consume
    assert(rows(seg.consume(minSeq = Some(2L), maxSeq = Some(5L))) ==
      rows(StreamOps.consumeSegment(over(sp, Some(sg)), sp, sg, Some(2L), Some(5L))))
    assert(rows(seg.consume(minTsUs = Some(t), maxTsUs = Some(t + 5 * day),
        limit = Some(50))) ==
      rows(StreamOps.consumeSegment(over(sp, Some(sg)), sp, sg,
        minTsUs = Some(t), maxTsUs = Some(t + 5 * day), limit = Some(50))))
    assert(rows(store.space(sp).consume(Some(t), Some(t + day), Some(200))) ==
      rows(StreamOps.consumeSpace(over(sp), sp, Some(t), Some(t + day), Some(200))))
    assert(rows(store.space(sp).consumeFrom(sg, 3L, Some(200))) ==
      rows(StreamOps.consumeSpaceFromOffset(over(sp), sp, sg, 3L, Some(200))))
    assert(rows(store.consume(offs, limit = Some(300))) ==
      rows(StreamOps.consumeMulti(all, offs, limit = Some(300))))
    // peek, peek_all, tail
    assert(anyOrder(seg.peek) == anyOrder(
      StreamOps.peek(over(sp, Some(sg)), sp).filter(col("segment") === sg)))
    assert(anyOrder(store.space(sp).peekAll) ==
      anyOrder(StreamOps.peek(over(sp), sp)))
    assert(anyOrder(store.space(sp).tail(3)) ==
      anyOrder(StreamOps.consumeTail(over(sp), sp, 3)))
    // listing and status
    assert(rows(store.spaces) == rows(StreamOps.getSpaces(all)))
    assert(rows(store.space(sp).segments) == rows(StreamOps.getSegments(all, sp)))
    assert(rows(store.status.orderBy("space")) ==
      rows(StreamOps.storeStatus(all).orderBy("space")))
    // replay
    assert(anyOrder(store.space(sp).replayState(2L)) ==
      anyOrder(EventSourcing.replayState(over(sp), sp, 2L)))
    assert(anyOrder(store.space(sp).stateAsOf(t)) ==
      anyOrder(EventSourcing.stateAsOf(over(sp), sp, t)))
  }

  test("a live store handle serves the new rows after events.parquet is overwritten") {
    val dir = Files.createTempDirectory("graft_memo_refresh").toString
    val events = spark.read.parquet(s"$SF/events.parquet")
    val pick = EventLog.entries(spark, SF).filter(col("sequence") === 4L)
      .orderBy("space", "segment").select("space", "segment").head
    val (sp, sg) = (pick.getString(0), pick.getString(1))
    val n = EventLog.entries(spark, SF, Some(sp), Some(sg)).count()
    val last = EventLog.entries(spark, SF, Some(sp), Some(sg))
      .filter(col("sequence") === n).select("event_id").head.getLong(0)
    events.filter(col("event_id") =!= last).write.parquet(s"$dir/events.parquet")

    val h = GraftStore(spark, dir)
    val seg = h.space(sp).segment(sg)
    def entriesInSpace =
      h.status.filter(col("space") === sp).select("n_entries").head.getLong(0)
    assert(seg.consume().count() == n - 1)
    assert(seg.peek.select("sequence").head.getLong(0) == n - 1)
    val before = entriesInSpace
    val first = h.entries
    assert(h.entries eq first) // unchanged files: the same persisted frame
    val persisted = spark.sparkContext.getPersistentRDDs.size

    // replace the files the way another process would: Spark's own
    // overwrite re-caches by path, so going around it is what exercises
    // the handle's snapshot check
    val staged = Files.createTempDirectory("graft_memo_stage").resolve("e")
    events.write.parquet(staged.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$dir/events.parquet"))
    Files.move(staged, java.nio.file.Paths.get(s"$dir/events.parquet"))
    assert(seg.consume().count() == n)
    assert(seg.peek.select("sequence").head.getLong(0) == n)
    assert(h.entries.filter(col("event_id") === last)
      .select("sequence").head.getLong(0) == n)
    assert(entriesInSpace == before + 1)
    // the old generation was released: still one live generation
    assert(!(h.entries eq first))
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
  }

  test("concurrent first readers of a log share one derivation") {
    import java.util.concurrent.{Callable, Executors}
    val dir = Files.createTempDirectory("graft_memo_race").toString
    spark.read.parquet(s"$SF/events.parquet").write.parquet(s"$dir/events.parquet")
    val pool = Executors.newFixedThreadPool(3)
    val views = try (1 to 3).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = EventLog.sequenced(spark, dir)
      })).map(_.get())
    finally pool.shutdown()
    assert(views.forall(_ eq views.head))
  }

  test("release drops a directory's cached view and the next read derives it again") {
    val dir = Files.createTempDirectory("graft_memo_release").toString
    spark.read.parquet(s"$SF/events.parquet").write.parquet(s"$dir/events.parquet")
    val h = GraftStore(spark, dir)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val first = h.entries
    val n = first.count()
    val cached = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(cached.nonEmpty)

    h.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(cached).isEmpty)
    assert(!EventLog.release(spark, dir)) // nothing is held any more
    assert(first.count() == n) // a frame handed out earlier still reads

    val again = h.entries
    assert(!(again eq first))
    assert(h.entries eq again)
    assert(again.count() == n)
    assert(EventLog.release(spark, dir))
  }

  test("catalog views make the whole surface SQL-reachable") {
    graft.api.GraftCatalog.registerViews(spark, SF)
    val n = spark.sql(
      "SELECT count(*) FROM entries WHERE space = 'click'").head.getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM lineitem").head.getLong(0) > 0)
  }

  test("consume dedup collapses redelivered entries by sequence") {
    import org.apache.spark.sql.functions.col
    val entries = EventLog.entries(spark, SF, Some("view"))
    val redelivered = entries.union(entries.limit(37))
    val deduped = graft.operators.StreamOps.consumeDedup(redelivered)
    assert(deduped.count() == entries.count())
  }

  test("extensions expose native kernels to SQL") {
    spark // force base session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    val r = s2.sql(
      """SELECT poly_hash64('abc') AS h,
        |       dot_product(array(1D, 2D), array(3D, 4D)) AS d,
        |       simhash64(array(0L)) AS sh,
        |       minhash_sig(array(42L), 4) AS mh,
        |       char_bigrams('abc') AS bg,
        |       hyperplane_bucket(array(1D, 0D, -1D), 8) AS hb""".stripMargin)
      .head()
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[scala.collection.Seq[Long]]("mh").length == 4)
    assert(r.getAs[scala.collection.Seq[Int]]("bg").length == 2)
    assert(r.getAs[Long]("sh") == 0L)
  }
}
