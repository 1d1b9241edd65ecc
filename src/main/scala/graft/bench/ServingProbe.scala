package graft.bench

import graft.analysis.Analyzer
import graft.fixtures.SyntheticTranscripts
import graft.index.BlockParams
import graft.query.{And, Or, Searcher}
import graft.storage.{ParquetIndexStorage, StorageParams}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One-off decomposition of `serving_mix_qps`: per-surface latency and
  * Spark job count in serving mode at the WAND-demo corpus, so the mix's
  * cost is attributed to a surface instead of guessed at. Not part of the
  * benchmark surface.
  *
  * Two views per surface: `best` repeats one query (Spark's codegen cache
  * hits, so it isolates scan and job cost) and `fresh` runs a query of the
  * same shape over new terms each time (median latency and Janino
  * compilations per query: what a stream of distinct user queries pays).
  */
object ServingProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_WAND_CONVS", "222000").toInt
    val aqe = sys.env.getOrElse("SPARK_GRAFT_PROBE_AQE", "1") == "1"
    val pinPost = sys.env.getOrElse("SPARK_GRAFT_PROBE_PIN_POSTINGS", "1") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-servingprobe-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    println(s"PROBE config aqe=$aqe pinPostings=$pinPost")
    spark.sparkContext.setLogLevel("WARN")

    val analyzer = Analyzer.standard()
    val turns = SyntheticTranscripts.df(spark, SyntheticTranscripts.Params(
      seed = 42L, nConvs = nConvs, maxTurnsPerConv = 8, vocabSize = 20000,
      minLen = 5, maxLen = 200, partitions = cpus * 2))
      .select("conv_id", "turn_idx", "text")
    val synPath = graft.LocalTmp.dir("graft_servingprobe_") + "/index"
    val (withOrd, ordCleanup) = graft.index.Ids.withDenseOrdinalHandle(
      turns, "doc_ord", Seq("conv_id", "turn_idx"))
    ParquetIndexStorage.build(withOrd, analyzer, synPath,
      StorageParams(blockParams = BlockParams(blockSize = 64, bucketSpan = 16384)),
      sourceDesc = s"servingprobe($nConvs convs)")
    ordCleanup()
    val s = Searcher(ParquetIndexStorage.read(spark, synPath), analyzer)

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })

    val t0p = System.nanoTime()
    s.serving(pinDocs = true, pinPostings = pinPost)
    println(f"PROBE serving() pin time              ${(System.nanoTime() - t0p) / 1e9}%.2f s")

    val surfaces: Seq[(String, () => Unit)] = Seq(
      "wand_hot0_t005000" -> (() => { s.bm25TopKWand("hot0 t005000", 10).collect(); () }),
      "wand_3term" -> (() => { s.bm25TopKWand("hot2 t007777 t001111", 10).collect(); () }),
      "match_and" -> (() => { s.matchQuery("hot1 t009999", And).count(); () }),
      "match_or" -> (() => { s.matchQuery("hot2 t001800", Or).count(); () }),
      "count_and" -> (() => { s.countMatches("hot1 t009999", And); () }),
      "count_or" -> (() => { s.countMatches("hot2 t001800", Or); () }),
      "phrase_hot_hot" -> (() => { s.phraseQuery("hot0 hot1").count(); () }),
      "phrase_planted" -> (() => { s.phraseQuery("planteda plantedb").count(); () }),
      // isolation probes: a single-rare-term match (minimal data, full plan
      // shape) and bare cached scans, to split fixed plan cost from data
      "match_or_rare_single" -> (() => { s.matchQuery("t012345", Or).count(); () }),
      "docs_cached_scan" -> (() => { s.index.docs.count(); () })
    )
    // warm once (plan caches etc.), then per-surface best-of-5 + job count
    surfaces.foreach(_._2.apply())
    for ((name, thunk) <- surfaces) {
      var best = Double.MaxValue
      Thread.sleep(200); jobs.set(0)
      for (_ <- 0 until 5) {
        val t0 = System.nanoTime(); thunk()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      Thread.sleep(300)
      println(f"PROBE $name%-24s best=$best%.3f s  jobs/5reps=${jobs.get()}")
    }
    // same shapes over new terms each query (a serving stream's view)
    val fresh: Seq[(String, Int => Unit)] = Seq(
      "wand_2term" -> (i => { s.bm25TopKWand(f"hot${i % 3} t${5000 + 37 * i}%06d", 10).collect(); () }),
      "wand_3term" -> (i => { s.bm25TopKWand(f"hot2 t${7000 + 41 * i}%06d t${1000 + 29 * i}%06d", 10).collect(); () }),
      "match_and" -> (i => { s.matchQuery(f"hot1 t${9000 + 31 * i}%06d", And).count(); () }),
      "match_or" -> (i => { s.matchQuery(f"hot2 t${1800 + 43 * i}%06d", Or).count(); () }),
      "count_and" -> (i => { s.countMatches(f"hot1 t${3000 + 47 * i}%06d", And); () }),
      "count_or" -> (i => { s.countMatches(f"hot0 t${4000 + 53 * i}%06d", Or); () }),
      "phrase_freq" -> (i => { s.phraseQuery(f"t${2 * i}%06d t${2 * i + 1}%06d").count(); () })
    )
    val nFresh = 9
    for ((name, q) <- fresh) {
      q(1000) // warm the shape once
      Thread.sleep(200); jobs.set(0)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ts = (0 until nFresh).map { i =>
        val t0 = System.nanoTime(); q(i)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      Thread.sleep(300)
      println(f"PROBE fresh_$name%-18s p50=${ts(nFresh / 2)}%.3f s  " +
        f"compiles/q=${compiles.toDouble / nFresh}%.1f  jobs/q=${jobs.get().toDouble / nFresh}%.1f")
    }
    // the bench's mix, for direct comparison (wand ×3, counts ×2, phrase)
    val mix = Seq(surfaces(0)._2, surfaces(4)._2, surfaces(1)._2,
      surfaces(7)._2, surfaces(0)._2, surfaces(5)._2)
    var bestMix = Double.MaxValue
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime(); mix.foreach(_.apply())
      bestMix = math.min(bestMix, (System.nanoTime() - t0) / 1e9)
    }
    println(f"PROBE mix qps                          ${mix.size / bestMix}%.2f")
    spark.stop()
  }
}
