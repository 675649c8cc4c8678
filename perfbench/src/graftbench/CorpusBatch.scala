package graftbench

import java.io.File
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.dedup.Dedup
import graft.similarity.Knn
import graft.text.TextOps

/** `corpus_batch`: a fixed pipeline pass (exact dedup, MinHash and
  * SimHash near-duplicate pairs, quality, language id, vocabulary top-k,
  * exact k-NN) over a generated corpus, repeated for the run. */
final class CorpusBatch(ctx: Ctx) extends Workload {
  private val nDocs = if (ctx.tiny) 300 else 12000
  private val nVecs = if (ctx.tiny) 200 else 4000
  private val nQueries = if (ctx.tiny) 8 else 40
  private val in = ctx.path("in")
  private var docs: Vector[Gen.Doc] = Vector.empty
  private var vecs: Vector[Gen.Vec] = Vector.empty
  private var queries: Vector[Long] = Vector.empty

  // references, computed in plain Scala at set-up
  private var exactRows: Seq[String] = Nil
  private var dupPairs: Set[(Long, Long)] = Set.empty
  private var tokenCounts: Seq[String] = Nil
  private var vocabTop: Seq[String] = Nil
  private var knnScores: Map[Long, Seq[Double]] = Map.empty

  private def d: DataFrame = ctx.spark.read.parquet(s"$in/documents.parquet")
  private def e: DataFrame =
    Knn.embOf(ctx.spark.read.parquet(s"$in/embeddings.parquet"))

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  def prepare(): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    docs = Gen.docs(rng, Gen.vocabs(rng), nDocs, exactShare = 0.08,
      nearShare = 0.08)
    vecs = Gen.vectors(rng, Gen.centres(rng, 16, 64), nVecs)
    queries = Vector.fill(nQueries)(vecs(rng.nextInt(vecs.size)).id).distinct
    Corpus.write(Corpus.docsDf(ctx, docs), s"$in/documents.parquet", ctx.cores)
    Corpus.write(Corpus.vecsDf(ctx, vecs), s"$in/embeddings.parquet", ctx.cores)

    val byText = docs.groupBy(_.text.trim.toLowerCase)
    exactRows = byText.map { case (t, ds) =>
      s"${md5(t)}|${ds.map(_.id).min}|${ds.size}" }.toSeq.sorted
    dupPairs = docs.groupBy(_.text).values.filter(_.size > 1).flatMap { ds =>
      val ids = ds.map(_.id).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
    tokenCounts = docs.map(x => s"${x.id}|${x.text.split(' ').count(_.nonEmpty)}")
      .sorted
    vocabTop = docs.flatMap(_.text.toLowerCase.split(' ').filter(_.nonEmpty))
      .groupBy(identity).map { case (w, ws) => (w, ws.size) }.toSeq
      .sortBy { case (w, c) => (-c, w) }.take(50).map { case (w, c) => s"$w|$c" }
    knnScores = queries.map { q =>
      q -> Corpus.bruteTopK(vecs, vecs.find(_.id == q).get, 10) }.toMap
  }

  val deck: Seq[String] = Seq("exact", "minhash", "simhash", "quality",
    "langid", "vocab", "knn")

  private def pairsCover(what: String)(rows: Seq[String]): Option[String] = {
    val got = rows.map(_.split('|')).map(a => (a(0).toLong, a(1).toLong)).toSet
    val missing = dupPairs.diff(got)
    if (missing.isEmpty) None
    else Some(s"$what missed ${missing.size} of ${dupPairs.size} exact-duplicate " +
      s"pairs, e.g. ${missing.head}")
  }

  def op(kind: String, rng: SplittableRandom): Op = kind match {
    case "exact" => Op(kind, "read", () => {
      val df = ctx.make("operators")(Dedup.exact(d))
      Outcome(ctx.collect(df.select("digest", "keeper", "n_copies")),
        g => Log.sameSet("exact dedup", g, exactRows))
    })
    case "minhash" => Op(kind, "read", () => {
      val df = ctx.make("operators")(Dedup.minHashPairs(d))
      Outcome(ctx.collect(df.select("doc1", "doc2")), pairsCover("minHashPairs"),
        exact = false)
    })
    case "simhash" => Op(kind, "read", () => {
      val df = ctx.make("operators")(Dedup.simHashPairs(d))
      Outcome(ctx.collect(df.select("doc1", "doc2")), pairsCover("simHashPairs"),
        exact = false)
    })
    case "quality" => Op(kind, "read", () => {
      val df = ctx.make("operators")(TextOps.quality(d))
      Outcome(ctx.collect(df.select("doc_id", "n_tokens")),
        g => Log.sameSet("quality n_tokens", g, tokenCounts))
    })
    case "langid" => Op(kind, "read", () => {
      val df = ctx.make("operators")(TextOps.langId(d))
      Outcome(ctx.collect(df.select("lang", "pred_lang")), g => {
        val hit = g.count { r => val a = r.split('|'); a(0) == a(1) }
        if (g.size != docs.size) Some(s"langId: ${g.size} rows for ${docs.size} docs")
        else if (hit < 0.95 * g.size) Some(s"langId accuracy $hit/${g.size}")
        else None
      }, exact = false)
    })
    case "vocab" => Op(kind, "read", () => {
      val df = ctx.make("operators")(TextOps.vocabTopK(d, 50))
      Outcome(ctx.collect(df.select("word", "cnt")),
        g => Log.same("vocabTopK", g, vocabTop))
    })
    case "knn" => Op(kind, "read", () => {
      val df = ctx.make("operators")(Knn.brute(e, col("vec_id").isin(queries: _*), 10))
      Outcome(ctx.collect(df.select("query_id", "score", "rnk")), g => {
        val got = g.map(_.split('|')).groupBy(_(0).toLong)
          .map { case (q, rs) => q -> rs.sortBy(_(2).toLong).map(_(1).toDouble) }
        val bad = knnScores.find { case (q, want) =>
          val have = got.getOrElse(q, Nil)
          have.size != want.size ||
            have.zip(want).exists { case (a, b) => math.abs(a - b) > 1e-3 }
        }
        bad.map { case (q, want) =>
          s"brute k-NN query $q: ${got.getOrElse(q, Nil).take(3)} vs ${want.take(3)}" }
      }, exact = false)
    })
  }

  def tailPercentile: Double = 60.0
  def inputBytes: Long = Corpus.docBytes(docs) + Corpus.vecBytes(vecs)
  def storedBytes: Long = Log.dirBytes(new File(in))
  def storeRoot: String = in

  override def extra(loopWallS: Double, ops: Int): Seq[(String, Double, String)] =
    Seq(("docs_per_s", nDocs.toDouble * ops / deck.size / loopWallS, "1/s"))
}
