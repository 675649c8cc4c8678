package graftbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.similarity.{Hybrid, Knn}
import graft.text.TextOps

/** Writers of the generated document and embedding tables. */
object Corpus {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def docsDf(ctx: Ctx, ds: Seq[Gen.Doc]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
      ds.map(d => Row(d.id, d.text, d.lang, d.source)): _*), DocSchema)

  def vecsDf(ctx: Ctx, vs: Seq[Gen.Vec]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
      vs.map(v => Row(v.id, v.v.toSeq, v.label)): _*), VecSchema)

  def write(df: DataFrame, path: String, files: Int): Unit =
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path)

  def docBytes(ds: Seq[Gen.Doc]): Long =
    ds.map(d => 8L + d.text.length + d.lang.length + d.source.length).sum

  def vecBytes(vs: Seq[Gen.Vec]): Long = vs.map(v => 12L + 4L * v.v.length).sum

  /** The k best cosine scores of `q` against the rest of `corpus`, exact,
    * in plain Scala (unrounded; compared with a tolerance). */
  def bruteTopK(corpus: Seq[Gen.Vec], q: Gen.Vec, k: Int): Seq[Double] = {
    def dot(a: Array[Float], b: Array[Float]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qn = math.sqrt(dot(q.v, q.v))
    corpus.filter(_.id != q.id)
      .map(c => dot(q.v, c.v) / (qn * math.sqrt(dot(c.v, c.v))))
      .sorted(Ordering[Double].reverse).take(k)
  }
}

/** `index_serve`: the persisted-artifact serving path. The text postings
  * index and the IVF index are built once (timed as the build), then the
  * loop probes them, runs the hybrid search and appends deltas. */
final class IndexServe(ctx: Ctx) extends Workload {
  private val nDocs = if (ctx.tiny) 200 else 5000
  private val nVecs = if (ctx.tiny) 200 else 2000
  private val hybridDocs = if (ctx.tiny) 100 else 600
  private val dim = 64
  private val nlist = 10
  private val in = ctx.path("in")
  private val idx = ctx.path("index")
  private var vocabs: Vector[Vector[String]] = _
  private var centres: Vector[Array[Double]] = _
  private var baseDocs: Vector[Gen.Doc] = Vector.empty
  private var baseVecs: Vector[Gen.Vec] = Vector.empty
  private var newDocs = Vector.empty[Gen.Doc]
  private var newVecs = Vector.empty[Gen.Vec]
  private var nextDoc = 0L
  private var nextVec = 0L
  private var genRng: SplittableRandom = _

  private def docs: DataFrame = ctx.spark.read.parquet(s"$in/documents.parquet")
  private def emb: DataFrame =
    Knn.embOf(ctx.spark.read.parquet(s"$in/embeddings.parquet"))

  def prepare(): Unit = {
    genRng = new SplittableRandom(ctx.seed)
    vocabs = Gen.vocabs(genRng)
    centres = Gen.centres(genRng, 12, dim)
    baseDocs = Gen.docs(genRng, vocabs, nDocs)
    baseVecs = Gen.vectors(genRng, centres, nVecs)
    Corpus.write(Corpus.docsDf(ctx, baseDocs), s"$in/documents.parquet", 2)
    Corpus.write(Corpus.vecsDf(ctx, baseVecs), s"$in/embeddings.parquet", 2)
    newDocs = Vector.empty
    newVecs = Vector.empty
    nextDoc = 1000000L
    nextVec = 1000000L
  }

  override def hasBuild: Boolean = true
  override def build(): Unit = {
    Seq("tix", "vix", "hyb").foreach(t =>
      ctx.spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    ctx.mat("sources.build") {
      TextOps.writeTextIndex(docs, "tix", s"$idx/tix")
      Knn.writeIvfIndex(emb, "vix", s"$idx/vix", nlist = nlist,
        persistCentroids = true)
    }
  }

  val deck: Seq[String] = Seq.fill(9)("search") ++ Seq.fill(6)("ivf") ++
    Seq.fill(2)("ivf_full") ++ Seq("hybrid", "text_append", "search_delta",
      "search_delta", "ivf_append", "ivf_delta", "ivf_delta")
  def tailPercentile: Double = 60.0

  private def terms(rng: SplittableRandom): Seq[String] = {
    val v = vocabs(rng.nextInt(vocabs.size))
    Seq.fill(1 + rng.nextInt(4))(v(rng.nextInt(v.size))).distinct
  }

  private def render(df: DataFrame, cols: String*): Seq[String] =
    ctx.collect(df.select(cols.map(col): _*))

  private def centroids: DataFrame = ctx.spark.table("vix_centroids")

  /** Checked share of the BM25 probes, compared with the ad-hoc search. */
  private def sampled(rng: SplittableRandom): Boolean = rng.nextInt(4) == 0

  def op(kind: String, rng: SplittableRandom): Op = kind match {
    case "search" | "search_delta" =>
      val ts = terms(rng)
      val check = sampled(rng)
      val delta = kind == "search_delta"
      val corpus = baseDocs ++ (if (delta) newDocs else Nil)
      Op(kind, "probe", () => {
        val df = ctx.make("operators")(
          if (delta) TextOps.searchIndexDelta(ctx.spark, "tix", ts)
          else TextOps.searchIndex(ctx.spark, "tix", ts))
        val got = render(df, "doc_id", "n_terms_matched", "score")
        Outcome(got, g =>
          if (!check) None
          else Log.sameSet(s"bm25 ${ts.mkString(" ")}", g, render(
            TextOps.bm25Search(Corpus.docsDf(ctx, corpus), ts),
            "doc_id", "n_terms_matched", "score")), exact = check)
      })
    case "ivf" | "ivf_full" | "ivf_delta" =>
      // ivf probes 2 lists and is not checked; ivf_full and ivf_delta probe
      // every list, so they must equal the exact search
      val delta = kind == "ivf_delta"
      val pool = baseVecs ++ (if (delta) newVecs else Nil)
      val qs = Seq.fill(4)(baseVecs(rng.nextInt(baseVecs.size)).id).distinct
      val check = kind != "ivf"
      val nprobe = if (check) nlist else 2
      Op(kind, "probe", () => {
        val df = ctx.make("operators") {
          val e = emb
          val q = e.filter(col("vec_id").isin(qs: _*))
          if (delta) Knn.searchIvfIndexDelta(ctx.spark, "vix", centroids, q,
            10, nprobe)
          else Knn.searchIvfIndex(ctx.spark, "vix", centroids, q, 10, nprobe)
        }
        val got = render(df, "query_id", "neighbor_id", "score", "rnk")
        Outcome(got, g =>
          if (!check) None
          else if (!delta) Log.sameSet("ivf vs brute", g, render(
            Knn.brute(emb, col("vec_id").isin(qs: _*), 10),
            "query_id", "neighbor_id", "score", "rnk"))
          else Log.sameSet("ivf delta vs brute", g, render(
            Knn.brute(Knn.embOf(Corpus.vecsDf(ctx, pool)),
              col("vec_id").isin(qs: _*), 10),
            "query_id", "neighbor_id", "score", "rnk")), exact = check)
      })
    case "hybrid" =>
      val ids = baseDocs.map(_.id).take(hybridDocs)
      Op(kind, "probe", () => {
        val df = ctx.make("operators") {
          val d = docs.filter(col("doc_id") < hybridDocs)
          val e = emb.filter(col("vec_id") < hybridDocs)
          Hybrid.hybridSearchIvf(ctx.spark, d, e, "hyb", ctx.path("hybrid"))
        }
        val got = render(df, "doc_id", "cand_id", "rnk")
        Outcome(got, g => {
          val bad = g.map(_.split('|')).filter(a => a(2).toLong > 10 ||
            !ids.contains(a(1).toLong))
          if (g.isEmpty) Some("hybrid search returned nothing")
          else if (bad.nonEmpty) Some(s"hybrid rows out of range: ${bad.head.mkString("|")}")
          else None
        }, exact = false)
      })
    case "text_append" =>
      val batch = Gen.docs(genRng, vocabs, if (ctx.tiny) 10 else 50, nextDoc)
      nextDoc += batch.size
      Op(kind, "write", () => {
        val d = ctx.make("input")(Corpus.docsDf(ctx, batch))
        ctx.mat("sources.append")(
          TextOps.appendTextIndexDelta(d, "tix", s"$idx/tix"))
        newDocs ++= batch
        Outcome(Nil, _ => None, exact = false)
      })
    case "ivf_append" =>
      val batch = Gen.vectors(genRng, centres, if (ctx.tiny) 10 else 50, nextVec)
      nextVec += batch.size
      Op(kind, "write", () => {
        val e = ctx.make("input")(Knn.embOf(Corpus.vecsDf(ctx, batch)))
        ctx.mat("sources.append")(
          Knn.appendIvfIndexDelta(e, "vix", s"$idx/vix", centroids))
        newVecs ++= batch
        Outcome(Nil, _ => None, exact = false)
      })
  }

  def inputBytes: Long = Corpus.docBytes(baseDocs ++ newDocs) +
    Corpus.vecBytes(baseVecs ++ newVecs)
  def storedBytes: Long = Log.dirBytes(new File(idx))
  def storeRoot: String = idx
}
