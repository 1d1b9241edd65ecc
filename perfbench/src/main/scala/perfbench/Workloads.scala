package perfbench

import graft.query._
import graft.storage.{IndexManifest, ParquetIndexStorage}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One timed operation of a workload's loop. `ms` ends when the engine's
  * answer is on the driver, before it is checked. */
final case class Op(mode: String, ms: Double, ok: Boolean, traced: Boolean,
    rows: Int, request: Long) {
  def topk: Boolean = Workload.topkModes(mode)
}

object Workload {
  /** Spans of client-side steps a traced operation adds before its call. */
  val probes: Set[String] = Set("analysis.terms", "query.resolve")

  /** The modes each workload's loop answers; the definitions file sets
    * how many of each make one block of the mix. */
  val modes: Map[String, Set[String]] = Map(
    "serve" -> Set("wand", "count-and", "count-or", "and", "or", "phrase", "phrase-pair", "hot-phrase"),
    "replay" -> Set("bm25", "wand", "match", "phrase", "collapse", "bool", "fed_bm25"))

  val topkModes: Set[String] = Set("wand", "bm25", "collapse", "fed_bm25")

  /** SplitMix64's finalizer: nearby seeds map to unrelated ones. */
  def scramble(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** What the set-up phase leaves behind. */
final case class SetupResult(setupS: Seq[Double], ordinalsS: Seq[Double],
    buildS: Seq[Double], manifests: Seq[IndexManifest], path: String,
    pinS: Seq[Double], pinnedBytes: Long)

/** A workload run: set-up, expected answers, the closed loop, the checks.
  *
  * `serve` pins the index (`Searcher.serving`) and replays a seeded mix of
  * the `graft.Main serve` modes; `replay` queries the parquet store through
  * a searcher without pins, over the per-query surface plus a federation
  * of two slices. Both time the set-up several times and both
  * compute their expected answers with the exhaustive batch plan and the
  * driver-side [[Oracle]]. */
final class Workload(val spark: SparkSession, val fx: Fixture, val name: String,
    val seed: Long, seconds: Int, val tracer: Tracer, work: String, say: String => Unit) {
  import fx.{analyzer, k, limit}

  /** The seed every input is made from. `java.util.Random`, which the
    * corpus generator, the pools and the loop draw from, gives correlated
    * first draws for nearby seeds: consecutive seeds would make corpora of
    * near-identical shape, and ten runs would sample one input, not ten. */
  val inputSeed: Long = Workload.scramble(seed)

  /** The block of operations, run shuffled, block after block. */
  val block: Map[String, Int] = fx.block(name)
  require(block.nonEmpty && block.keySet.subsetOf(Workload.modes(name)),
    s"$name block ${block.keySet} must be a non-empty subset of ${Workload.modes(name)}")
  /** The share of each mode in the mix. */
  val mix: Map[String, Double] = block.map { case (m, n) => m -> n.toDouble / block.values.sum }
  private val rng = new Random(inputSeed)
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val ops = ArrayBuffer.empty[Op]
  var loopS = 0.0
  val batchExhS = ArrayBuffer.empty[Double]
  val batchWandS = ArrayBuffer.empty[Double]
  /** WAND block counters, filled only in a traced run. */
  val loopWand: Option[WandMetrics] = if (tracer.enabled) Some(WandMetrics(spark)) else None
  val batchWand: Option[WandMetrics] = if (tracer.enabled) Some(WandMetrics(spark)) else None
  private var request = 0L
  private var blockNo = 0

  private def check(what: => String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch {
      case e: Exception => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; return fail()
    }
    if (!r) { failures += what; fail() } else true
  }

  private def fail(): Boolean = {
    failed += 1
    false
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------- set-up

  /** Builds the index `setups` times from the same seed, each time anew
    * into a fresh directory, and keeps the last one. Set-up time is
    * corpus generation + ordinals + build + open (+ pin for `serve`). */
  def setUp(pin: Boolean): (SetupResult, Searcher) = {
    val setupS, ordS, buildS, pinS = ArrayBuffer.empty[Double]
    val mfs = ArrayBuffer.empty[IndexManifest]
    var kept: Option[(String, Searcher)] = None
    var pinnedBytes = 0L
    for (i <- 0 until fx.setups) {
      kept.foreach { case (p, s) => s.unpin(); Fixture.deleteTree(new java.io.File(p)) }
      val path = s"$work/index$i"
      val t0 = System.nanoTime()
      val searcher = tracer.span("setup", 0) {
        val (mf, o, b) = fx.build(tracer, fx.turns(spark, inputSeed), path)
        ordS += o; buildS += b; mfs += mf
        val s = Searcher(tracer.span("storage.read")(ParquetIndexStorage.read(spark, path)), analyzer)
        if (pin) {
          val tp = System.nanoTime()
          tracer.span("query.serving")(s.serving(pinDocs = true))
          pinS += secs(tp)
        }
        s
      }
      setupS += secs(t0)
      if (pin) pinnedBytes = spark.sparkContext.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum
      kept = Some((path, searcher))
      say(f"setup ${i + 1}/${fx.setups}: ${setupS.last}%.3f s (ordinals ${ordS.last}%.3f s, build ${buildS.last}%.3f s)")
    }
    val (path, searcher) = kept.get
    (SetupResult(setupS.toSeq, ordS.toSeq, buildS.toSeq, mfs.toSeq, path,
      pinS.toSeq, pinnedBytes), searcher)
  }

  // ---------------------------------------------------- expected answers

  final case class Expected(topk: IndexedSeq[Seq[(Long, Double)]],
      collapse: IndexedSeq[Seq[(Long, Double)]])

  private def ranked(df: DataFrame, n: Int): IndexedSeq[Seq[(Long, Double)]] = {
    val byQ = df.collect().toSeq.map { r =>
      (r.getAs[Number]("q_id").intValue, r.getAs[Number]("rank").longValue,
        r.getAs[Number]("doc_ord").longValue, r.getAs[Number]("score").doubleValue)
    }.groupBy(_._1)
    IndexedSeq.tabulate(n)(q => byQ.getOrElse(q, Nil).sortBy(_._2).map(x => (x._3, x._4)))
  }

  private def sameRanking(got: Seq[(Long, Double)], exp: Seq[(Long, Double)]): Boolean =
    got.size == exp.size && got.zip(exp).forall { case ((d1, s1), (d2, s2)) =>
      d1 == d2 && math.abs(s1 - s2) <= 1e-9 * math.max(1.0, math.abs(s2))
    }

  /** The exhaustive batch plan over a cold searcher gives every top-k
    * answer; it runs once per batch pass (the median timing gives the
    * batch throughput), and the WAND batch must be rank-identical to it on
    * every pass. The answers are also checked against the driver-side oracle. */
  def expected(path: String, pools: Pools, oracle: Oracle): Expected = tracer.span("expected", 0) {
    val cold = Searcher(ParquetIndexStorage.read(spark, path), analyzer)
    val n = pools.topk.size
    var exh: IndexedSeq[Seq[(Long, Double)]] = null
    for (rep <- 0 until fx.batchPasses) {
      val t0 = System.nanoTime()
      val e = tracer.span("query.bm25TopKBatch")(ranked(cold.bm25TopKBatch(pools.topk, k), n))
      batchExhS += secs(t0)
      val t1 = System.nanoTime()
      val w = tracer.span("query.bm25TopKBatchWand")(
        ranked(cold.bm25TopKBatchWand(pools.topk, k, batchWand), n))
      batchWandS += secs(t1)
      check(s"batch WAND rank-identical to exhaustive batch (pass $rep)")(
        e.indices.forall(q => sameRanking(w(q), e(q))))
      if (exh != null)
        check("exhaustive batch repeats its answers")(e.indices.forall(q => sameRanking(e(q), exh(q))))
      exh = e
    }
    check("exhaustive batch agrees with the oracle's match sets") {
      pools.topk.indices.forall { q =>
        val m = oracle.matching(pools.topk(q), and = false)
        exh(q).size == math.min(k, m.size) && exh(q).forall(d => m.contains(d._1.toInt))
      }
    }
    val full = 2000
    val c = tracer.span("query.bm25TopKBatch.collapse")(
      ranked(cold.bm25TopKBatch(pools.collapse, full), pools.collapse.size))
    check("collapse rankings are complete") {
      pools.collapse.indices.forall(q => c(q).size < full &&
        c(q).size == oracle.matching(pools.collapse(q), and = false).size)
    }
    val collapsed = c.map { r =>
      r.groupBy(d => oracle.keys(d._1.toInt)._1).values.map(_.head).toSeq
        .sortBy(d => (-d._2, d._1)).take(k)
    }
    say(f"batch: ${n} queries, exhaustive ${batchExhS.mkString(", ")} s, WAND ${batchWandS.mkString(", ")} s")
    Expected(exh, collapsed)
  }

  // ------------------------------------------------------------ the loop

  private val docCols = Seq("doc_ord", "conv_id", "turn_idx", "text")

  private def hits(df: DataFrame): Array[Row] = df.select(docCols.map(col): _*).collect()
  private def rankedHits(df: DataFrame, key: Row => Long): Seq[(Long, Double)] =
    df.collect().toSeq.map(r => (key(r), r.getAs[Number]("score").doubleValue))

  /** An engine answer on the driver: its row count, and the check of it
    * against the expected answer, run after the clock has stopped. */
  private final case class Answer(rows: Int, ok: () => Boolean)

  /** Runs every mode once, untimed (the first call of a plan shape pays
    * its code generation), then shuffled blocks of modes until `seconds`
    * have passed. `run` answers one operation. In a traced run every other
    * operation runs untraced, so the run measures its own tracing overhead. */
  private def loop(run: (String, Long, Boolean) => Answer): Unit = {
    val modes = block.toSeq.sorted
    modes.foreach { case (mode, _) => check(s"$mode (warm-up call)")(run(mode, 0, false).ok()) }
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      blockNo += 1
      val it = rng.shuffle(modes.flatMap { case (m, n) => Seq.fill(n)(m) }).iterator
      while (it.hasNext && System.nanoTime() < deadline) {
        val mode = it.next()
        request += 1
        val traced = tracer.enabled && request % 2 == 1
        val ts = System.nanoTime()
        val answer =
          try Some(run(mode, request, traced))
          catch { case e: Exception =>
            failures += s"$mode: ${e.getClass.getSimpleName}: ${e.getMessage}"; None
          }
        val te = System.nanoTime()
        // the client-side probes of a traced operation are not its latency
        val probeMs = if (!traced) 0.0 else tracer.spans.reverseIterator
          .takeWhile(_.request == request).filter(sp => Workload.probes(sp.name)).map(_.ms).sum
        val ms = (te - ts) / 1e6 - probeMs
        val ok = answer.exists { a =>
          val r = try a.ok() catch { case e: Exception =>
            failures += s"$mode check: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
          }
          if (!r) failures += s"$mode: wrong answer (request $request)"
          r
        }
        attempted += 1
        if (!ok) failed += 1
        ops += Op(mode, ms, ok, traced, answer.map(_.rows).getOrElse(0), request)
      }
    }
    loopS = secs(t0)
  }

  /** Spans for the client-side steps of a query, in a traced operation:
    * analysis of the query text and dictionary resolution. */
  private def probe(s: Searcher, q: String, r: Long): Unit = {
    val terms = tracer.span("analysis.terms", r)(analyzer.terms(q).distinct)
    tracer.span("query.resolve", r)(s.resolve(terms))
  }

  private def traced[A](on: Boolean, name: String, r: Long)(body: => A): A =
    if (on) tracer.span(name, r)(body) else body

  /** `serve`: the `graft.Main serve` modes over the pinned searcher. */
  def serveLoop(s: Searcher, pools: Pools, oracle: Oracle, exp: Expected): Unit = {
    loop { (mode, r, on) =>
      def pick(xs: IndexedSeq[String]): String = xs(rng.nextInt(xs.size))
      mode match {
        case "wand" =>
          val qi = rng.nextInt(pools.topk.size)
          val q = pools.topk(qi)
          if (on) probe(s, q, r)
          val got = traced(on, "query.bm25TopKWand", r)(
            rankedHits(s.bm25TopKWand(q, k, if (on) loopWand else None)
              .select("doc_ord", "score", "conv_id", "turn_idx", "text"), _.getLong(0)))
          Answer(got.size, () => sameRanking(got, exp.topk(qi)))
        case "count-and" | "count-or" =>
          val and = mode == "count-and"
          val q = pick(if (and) pools.conj else pools.disj)
          if (on) probe(s, q, r)
          val n = traced(on, "query.countMatches", r)(s.countMatches(q, if (and) And else Or))
          Answer(1, () => n == oracle.matching(q, and).size)
        case "and" | "or" =>
          val and = mode == "and"
          val q = pick(if (and) pools.conj else pools.disj)
          if (on) probe(s, q, r)
          val got = traced(on, "query.matchQuery", r)(
            hits(s.matchQuery(q, if (and) And else Or).limit(limit)))
          Answer(got.length, () => got.map(_.getLong(0)).toSeq == oracle.first(oracle.matching(q, and), limit))
        case _ =>
          val p = mode match {
            case "phrase"     => pools.planted
            case "hot-phrase" => pools.hotPhrase
            case _            => pick(pools.pairs)
          }
          if (on) probe(s, p, r)
          val got = traced(on, "query.phraseQuery", r)(hits(s.phraseQuery(p).limit(limit)))
          Answer(got.length, () => got.map(_.getLong(0)).toSeq == oracle.first(oracle.phrase(p), limit))
      }
    }
  }

  /** The oracle, and concurrently with it the two federation slices:
    * the conversations of the first and of the second half of the ordinal
    * space, built as two independent indexes (their spans are not traced).
    * Every workload does this first (`serve` builds one slice): it is the
    * JVM and code-generation warm-up that would otherwise land on the first
    * timed set-up, and `replay` federates the slices. */
  def warmUp(): (Oracle, Seq[String]) = tracer.span("warmup", 0) {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val first = col("conv_id") < lit(f"c${fx.convs / 2}%08d")
    val input = fx.turns(spark, inputSeed)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val off = new Tracer(spark.sparkContext, enabled = false)
    try {
      val builds = Seq(input.filter(first), input.filter(!first))
        .take(if (name == "replay") 2 else 1).zipWithIndex.map { case (half, i) =>
          Future { fx.build(off, half, s"$work/slice$i"); s"$work/slice$i" }
        }
      val oracle = tracer.span("oracle")(Oracle(spark, fx, inputSeed))
      (oracle, builds.map(Await.result(_, Duration.Inf)))
    } finally pool.shutdown()
  }

  /** `replay`: the cold surfaces, over a searcher and a federation opened
    * once without pins: every query scans the parquet store. Match queries
    * alternate AND/OR by block; every fourth block's phrase is the planted
    * bigram. */
  def replayLoop(path: String, slices: Seq[String], pools: Pools, oracle: Oracle,
      exp: Expected): Unit = {
    val s = tracer.span("storage.read", 0)(
      Searcher(ParquetIndexStorage.read(spark, path), analyzer))
    val fed = tracer.span("storage.read", 0)(Federation.ofPersisted(
      slices.map(ParquetIndexStorage.read(spark, _)), analyzer, fx.keyCols))
    def pickI(n: Int): Int = rng.nextInt(n)
    loop { (mode, r, on) =>
      mode match {
        case "bm25" | "wand" =>
          val qi = pickI(pools.topk.size)
          val q = pools.topk(qi)
          if (on) probe(s, q, r)
          val got = traced(on, s"query.${if (mode == "bm25") "bm25TopK" else "bm25TopKWand"}", r) {
            val d = if (mode == "bm25") s.bm25TopK(q, k)
                    else s.bm25TopKWand(q, k, if (on) loopWand else None)
            rankedHits(d.select("doc_ord", "score", "conv_id", "turn_idx", "text"), _.getLong(0))
          }
          Answer(got.size, () => sameRanking(got, exp.topk(qi)))
        case "match" =>
          val and = blockNo % 2 == 0
          val q = if (and) pools.conj(pickI(pools.conj.size)) else pools.disj(pickI(pools.disj.size))
          if (on) probe(s, q, r)
          val got = traced(on, "query.matchQuery", r)(hits(s.matchQuery(q, if (and) And else Or).limit(limit)))
          Answer(got.length, () => got.map(_.getLong(0)).toSeq == oracle.first(oracle.matching(q, and), limit))
        case "phrase" =>
          val p = if (blockNo % 4 == 0) pools.planted else pools.pairs(pickI(pools.pairs.size))
          if (on) probe(s, p, r)
          val got = traced(on, "query.phraseQuery", r)(hits(s.phraseQuery(p).limit(limit)))
          Answer(got.length, () => got.map(_.getLong(0)).toSeq == oracle.first(oracle.phrase(p), limit))
        case "collapse" =>
          val qi = pickI(pools.collapse.size)
          val q = pools.collapse(qi)
          if (on) probe(s, q, r)
          val got = traced(on, "query.bm25TopKCollapse", r)(rankedHits(
            s.bm25TopKCollapse(q, "conv_id", k).select("doc_ord", "score", "conv_id", "turn_idx", "text"),
            _.getLong(0)))
          Answer(got.size, () => sameRanking(got, exp.collapse(qi)))
        case "bool" =>
          val b = pools.bool(pickI(pools.bool.size))
          val got = traced(on, "query.boolQuery", r)(s.boolQuery(b).select("doc_ord").collect())
          Answer(got.length, () => got.map(_.getLong(0)).sorted.toSeq == oracle.first(oracle.bool(b), Int.MaxValue))
        case "fed_bm25" =>
          val qi = pickI(pools.topk.size)
          val q = pools.topk(qi)
          if (on) tracer.span("analysis.terms", r)(analyzer.terms(q).distinct)
          val got = traced(on, "query.federation.bm25TopK", r)(
            fed.bm25TopK(q, k).select("conv_id", "turn_idx", "score").collect())
          Answer(got.length, () => sameRanking(got.toSeq.map(row =>
            (oracle.ordOf((row.getString(0), row.getInt(1))), row.getAs[Number](2).doubleValue)),
            exp.topk(qi)))
      }
    }
  }

  /** The federated slices hold exactly the monolithic index's documents. */
  def checkSlices(slices: Seq[String], oracle: Oracle): Unit =
    check("federated slices partition the corpus") {
      slices.map(p => ParquetIndexStorage.read(spark, p).manifest.numDocs).sum == oracle.numDocs
    }

  /** Set-up consistency: the kept index matches the client's corpus. */
  def checkIndex(setup: SetupResult, oracle: Oracle): Unit = {
    check("every build indexes every turn")(setup.manifests.forall(_.numDocs == oracle.numDocs))
    check("dense ordinals follow (conv_id, turn_idx)") {
      val docs = spark.read.parquet(s"${setup.path}/docs").select("doc_ord", "conv_id", "turn_idx")
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2))))
      docs.length == oracle.numDocs && docs.forall { case (d, key) => oracle.keys(d.toInt) == key }
    }
  }
}
