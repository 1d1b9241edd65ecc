package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.analysis.Analyzer
import graft.fixtures.SyntheticTranscripts
import graft.index.{BlockParams, Ids}
import graft.query._
import graft.storage.{IndexManifest, ParquetIndexStorage, StorageParams}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Corpus, index, pool and mix parameters shared by every workload, read
  * from the definitions file (`perfbench/workloads.json`), the one place
  * they are set. */
final class Fixture(defs: JsonNode) {
  private val corpus = defs.required("corpus")
  private val sp = defs.required("index").required("storage_params")
  private val pools = defs.required("query_pools")
  private val runs = defs.required("runs")
  val convs: Int = corpus.required("nConvs").asInt
  val maxTurnsPerConv: Int = corpus.required("maxTurnsPerConv").asInt
  val vocabSize: Int = corpus.required("vocabSize").asInt
  val k: Int = pools.required("k").asInt
  val limit: Int = pools.required("limit").asInt
  val setups: Int = runs.required("setups").asInt
  val batchPasses: Int = runs.required("batch_passes").asInt
  val keyCols: Seq[String] = sp.required("keyCols").elements.asScala.map(_.asText).toSeq
  val storage: StorageParams = StorageParams(
    termBuckets = sp.required("termBuckets").asInt,
    writeGroups = sp.required("writeGroups").asInt,
    blockParams = BlockParams(blockSize = sp.required("blockSize").asInt,
      bucketSpan = sp.required("bucketSpan").asLong),
    keyCols = keyCols,
    keyBuckets = sp.required("keyBuckets").asInt)
  val analyzer: Analyzer = Analyzer.standard()

  /** The size of each query pool. */
  def poolSize(pool: String): Int = pools.required("sizes").required(pool).asInt

  /** The block of operations of a workload: mode -> count. */
  def block(workload: String): Map[String, Int] =
    defs.required("workloads").required(workload).required("block").fields.asScala
      .map(e => e.getKey -> e.getValue.asInt).toMap

  def params(seed: Long): SyntheticTranscripts.Params = SyntheticTranscripts.Params(
    seed = seed, nConvs = convs, maxTurnsPerConv = maxTurnsPerConv, vocabSize = vocabSize)

  def turns(spark: SparkSession, seed: Long): DataFrame =
    SyntheticTranscripts.df(spark, params(seed)).select("conv_id", "turn_idx", "text")

  /** Dense ordinals by the key columns and a full build, the way
    * `graft.Main build` makes them. Returns the manifest and the wall
    * seconds of ordinals and of build. */
  def build(t: Tracer, input: DataFrame, path: String): (IndexManifest, Double, Double) = {
    val t0 = System.nanoTime()
    val (withOrd, cleanup) = t.span("index.ordinals")(
      Ids.withDenseOrdinalHandle(input, "doc_ord", keyCols))
    val t1 = System.nanoTime()
    val mf = t.span("storage.build")(
      ParquetIndexStorage.build(withOrd, analyzer, path, storage, sourceDesc = "perfbench"))
    cleanup()
    (mf, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }
}

object Fixture {
  def load(path: String): Fixture = new Fixture(new ObjectMapper().readTree(new java.io.File(path)))

  /** On-disk bytes under `path`, per top-level table directory. */
  def tableBytes(path: String): Map[String, Long] = {
    val root = new java.io.File(path)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L else f.length
    Option(root.listFiles).map(_.toSeq).getOrElse(Nil)
      .map(f => f.getName -> size(f)).toMap
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The corpus as the client sees it, analyzed on the driver without the
  * index: the independent answer key for match, count, phrase and boolean
  * queries, and the (conv_id, turn_idx) <-> doc_ord map. Ordinals follow
  * the (conv_id, turn_idx) order the build promises. */
final class Oracle(rows: Array[(String, Int, String)], analyzer: Analyzer) {
  val docs: Array[Array[String]] = rows.map(r => analyzer.terms(r._3).toArray)
  val keys: Array[(String, Int)] = rows.map(r => (r._1, r._2))
  val ordOf: Map[(String, Int), Long] = keys.zipWithIndex.map { case (kk, i) => kk -> i.toLong }.toMap
  val inputBytes: Long = rows.map(_._3.getBytes("UTF-8").length.toLong).sum
  private val postings: Map[String, Array[Int]] = {
    val m = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuilder[Int]]
    docs.zipWithIndex.foreach { case (ts, d) =>
      ts.distinct.foreach(t => m.getOrElseUpdate(t, Array.newBuilder[Int]) += d)
    }
    m.map { case (t, b) => t -> b.result() }.toMap
  }
  def numDocs: Int = docs.length
  def df(term: String): Int = postings.get(term).map(_.length).getOrElse(0)
  def vocabulary: Seq[String] = postings.keys.toSeq.sorted

  private def all: Set[Int] = docs.indices.toSet
  private def withTerm(t: String): Set[Int] = postings.get(t).map(_.toSet).getOrElse(Set.empty)

  def matching(q: String, and: Boolean): Set[Int] = {
    val ts = analyzer.terms(q).distinct
    if (ts.isEmpty) Set.empty
    else if (and) ts.map(withTerm).reduce(_ intersect _)
    else ts.map(withTerm).reduce(_ union _)
  }

  def phrase(p: String): Set[Int] = {
    val ts = analyzer.terms(p)
    if (ts.isEmpty) return Set.empty
    ts.distinct.map(withTerm).reduce(_ intersect _).filter { d =>
      val s = docs(d)
      (0 to s.length - ts.length).exists(i => ts.indices.forall(j => s(i + j) == ts(j)))
    }
  }

  def bool(q: BoolQuery): Set[Int] = q match {
    case BTerm(kw, logic, _) =>
      if (logic == And && analyzer.terms(kw).distinct.exists(df(_) == 0)) Set.empty
      else matching(kw, logic == And)
    case BPhrase(p, _, 0) => phrase(p)
    case BAnd(cs) => cs.map(bool).reduce(_ intersect _)
    case BOr(cs)  => cs.map(bool).reduce(_ union _)
    case BNot(c)  => all -- bool(c)
    case other => throw new IllegalArgumentException(s"no answer key for $other")
  }

  /** The first `n` matches in doc_ord order, the unranked result contract. */
  def first(ds: Set[Int], n: Int): Seq[Long] = ds.toSeq.sorted.take(n).map(_.toLong)
}

object Oracle {
  def apply(spark: SparkSession, fx: Fixture, seed: Long): Oracle = {
    val rows = fx.turns(spark, seed).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .sortBy(r => (r._1, r._2))
    new Oracle(rows, fx.analyzer)
  }
}

/** The seeded query pools. Terms are drawn from the corpus by document
  * frequency: `hot` terms match about half the documents, `mid` terms
  * tens to hundreds, `rare` terms a handful. Phrases are the planted
  * bigram, the hot `hot0 hot1` phrase (too frequent for the serving fast
  * path), and word pairs that occur in the corpus. */
final class Pools(o: Oracle, fx: Fixture, seed: Long) {
  private val rng = new Random(seed * 31 + 7)
  private val vocab = o.vocabulary.filter(_.startsWith("t"))
  private val mid = vocab.filter { t => val d = o.df(t); d >= 30 && d <= 300 }
  private val rare = vocab.filter { t => val d = o.df(t); d >= 3 && d < 30 }
  require(mid.size >= 20 && rare.size >= 20, s"corpus too small: ${mid.size} mid, ${rare.size} rare terms")
  private val hot = SyntheticTranscripts.hotTerms.toSeq
  private def pick(xs: Seq[String]): String = xs(rng.nextInt(xs.size))

  /** Top-k queries, in three shapes. */
  val topk: IndexedSeq[String] = IndexedSeq.tabulate(fx.poolSize("topk")) { i =>
    i % 3 match {
      case 0 => s"${pick(hot)} ${pick(mid)}"
      case 1 => s"${pick(hot)} ${pick(mid)} ${pick(rare)}"
      case _ => s"${pick(mid)} ${pick(rare)}"
    }
  }
  /** Conjunctions (small answers) and disjunctions of mid/rare terms. */
  val conj: IndexedSeq[String] = IndexedSeq.fill(fx.poolSize("conj"))(s"${pick(hot)} ${pick(mid)}")
  val disj: IndexedSeq[String] = IndexedSeq.fill(fx.poolSize("disj"))(s"${pick(mid)} ${pick(rare)}")
  val planted = s"${SyntheticTranscripts.phraseA} ${SyntheticTranscripts.phraseB}"
  val hotPhrase = "hot0 hot1"
  val pairs: IndexedSeq[String] = IndexedSeq.fill(fx.poolSize("pairs")) {
    var p: Option[String] = None
    while (p.isEmpty) {
      val d = o.docs(rng.nextInt(o.numDocs))
      if (d.length >= 2) {
        val i = rng.nextInt(d.length - 1)
        if (d(i).startsWith("t") && d(i + 1).startsWith("t") && d(i) != d(i + 1))
          p = Some(s"${d(i)} ${d(i + 1)}")
      }
    }
    p.get
  }
  /** Collapse queries: matched sets small enough that a full ranking
    * (the exhaustive batch at `Oracle`-checked size) gives the answer. */
  val collapse: IndexedSeq[String] = disj.take(fx.poolSize("collapse"))
  val bool: IndexedSeq[BoolQuery] = IndexedSeq.fill(fx.poolSize("bool")) {
    BOr(Seq(BTerm(s"${pick(mid)} ${pick(rare)}", And),
      BAnd(Seq(BTerm(pick(mid)), BNot(BTerm(pick(hot))))),
      BPhrase(pick(pairs))))
  }
}
