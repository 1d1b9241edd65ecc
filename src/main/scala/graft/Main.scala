package graft

import graft.analysis.{Analyzer, AsciiFoldingFilter, LowercaseFilter, NgramTokenizer, StandardTokenizer, StemmerFilter, StopWordFilter, SynonymFilter, TokenFilter}
import graft.index.Ids
import graft.query.{And, Federation, Or, QueryTarget, Searcher}
import graft.storage.{ParquetIndexStorage, StorageParams}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** spark-submit deployment surface for the engine (north_star: "runs via
  * spark-submit on multi-executor clusters").
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   build  --input s3://bucket/transcripts --index s3://bucket/idx [--term-buckets 64]
  *   delta  --input batch.parquet --index s3://bucket/idx
  *   search --index s3://bucket/idx --query "spark join" [--mode wand] [--k 10]
  * }}}
  *
  * The cluster master/executors come from spark-submit's own configuration;
  * this object only declares the job. All heavy lifting is the library's
  * tested paths: `ParquetIndexStorage.build` (resumable staged build),
  * `StreamingIndexer.overStorage` (O(batch) delta through the staged
  * dynamic-partition-overwrite), `Searcher` (pruned query plans).
  *
  * Subcommands:
  *  - `build`: read a transcripts table (`input_hint` shape: conv_id,
  *    turn_idx, role, text, tool, ts), assign dense ordinals by the stable
  *    (conv_id, turn_idx) order, and commit a persisted index (resumable —
  *    rerunning after a crash skips committed stages).
  *  - `delta`: fold a batch of new/replaced turns into a committed index.
  *    Idempotent per `--batch-id`; re-running an applied id is a no-op.
  *  - `remove`: delete documents from a committed index (retention /
  *    right-to-be-forgotten). Input rows carry either `doc_ord` or the
  *    index's key columns (conv_id, turn_idx). Idempotent per `--batch-id`.
  *  - `search`: run one query against a committed index, or a federation
  *    of slice indexes, and print a TSV of results (modes: [[searchModes]]).
  *  - `batch`: evaluate a FILE of queries (one per line) as ONE Spark plan —
  *    the capacity shape (per-query plans are pinned at a few q/s by driver
  *    latency at any cluster size; the batch plan amortizes it). Mode
  *    `wand` (default) adds lossless block-max pruning.
  *  - `vacuum`: drop staging data whose delta is already applied (and the
  *    build's raw checkpoint once the build is committed); markers stay, so
  *    idempotence and resumability are unaffected.
  *  - `compact`: rewrite the index with a dense ordinal space (removals
  *    never reclaim ordinals). Offline maintenance — run when the reported
  *    ordinal density drifts low; idempotent per `--batch-id`.
  *  - `stats`: one JSON line of index introspection (docs, avgdl, vocab
  *    size, ordinal density, applied stages) — cheap: manifest + the
  *    vocab-sized dictionary + one docs partition.
  *
  * The query-side analyzer MUST match the one the index was built with; the
  * manifest records the build analyzer and a mismatch fails loudly (scoring
  * with a different analyzer silently returns wrong matches).
  */
object Main {

  def main(args: Array[String]): Unit = {
    // master comes from spark-submit (or GRAFT_MASTER for bare-JVM runs)
    val builder = SparkSession.builder().appName("graft")
      .config("spark.sql.session.timeZone", "UTC")
    sys.env.get("GRAFT_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    try {
      val code = run(spark, args.toIndexedSeq, println(_))
      if (code != 0) sys.exit(code)
    } finally spark.stop()
  }

  private lazy val usage: String =
    s"""usage: graft.Main <build|delta|remove|search|serve|batch|vacuum|compact|stats> [options]
      |  build  --input <parquet> --index <path> [--text-col text]
      |         [--analyzer standard|stem|ngram:N] [--stopwords a,b,c]
      |         [--fold true] [--synonyms term=canonical,term2=canonical2]
      |         [--term-buckets 64] [--write-groups 8] [--block-size 128]
      |         [--bucket-span 65536] [--no-keymap]
      |  delta  --input <parquet> --index <path> [--batch-id <id>]
      |         [--analyzer ...] [--stopwords ...] [--text-col text]
      |  remove --input <parquet of doc_ord or key columns> --index <path>
      |         [--batch-id <id>]
      |  search --index <path>[,<path>…] --query <q>
      |         [--mode ${searchModes.keys.mkString("|")}]
      |         [--k 10] [--limit 20] [--max-edits 1] [--slop 0]
      |         [--min-match 2] [--collapse-field conv_id]
      |         [--facet-field role] [--min-doc-count 3]
      |         [--window 2 (context: ±turns fetched around each hit)]
      |         [--mu 2000 (lm: Dirichlet smoothing)]
      |         [--doc 42 (explain: the doc to explain — ordinal, or key
      |          values for a federated index)]
      |         [--rescore-phrase "join table"] [--window-size 100]
      |         [--rescore-weight 1.0 (rescore: phrase re-rank of the
      |          BM25 top window-size)]
      |         (qs: Lucene-lite string — AND/OR/NOT, -term, parens, "phrases",
      |          "a b"~slop, term~edits, term^boost;
      |          phrase: --slop widens to a position window; msm: --min-match terms required;
      |          collapse: best doc per --collapse-field value;
      |          mlt/termvectors: --query is a doc_ord (federated:
      |          comma-separated key values); suggest: --query is a term
      |          prefix; range: --query is "lo,hi" (empty side = open);
      |          comma-separated --index paths federate independently built
      |          slices — global stats merged, every mode except context;
      |          expansion/dictionary modes use the merged global vocabulary)
      |  serve  --index <path> [--queries <file; default stdin>] [--k 10]
      |         [--limit 20] [--pin-postings true]
      |         (interactive loop: pin once, answer `mode<TAB>query` lines;
      |          modes wand|count-and|count-or|and|or|phrase; bare lines =
      |          wand top-k; per-query latency after each answer)
      |  batch  --index <path>[,<path>…] --queries <text file, one query per line>
      |         [--k 10] [--mode wand|bm25]
      |         (comma-separated --index paths federate the query-set replay
      |          across slices — global stats merged, output keyed by the
      |          slices' stable key columns)
      |  vacuum --index <path>
      |  compact --index <path> [--batch-id <id>]
      |         [--groups auto|g1,g2,… (per-d_group incremental compaction;
      |          auto selects groups below --min-density, default 0.5)]
      |  stats  --index <path>""".stripMargin

  /** Testable core: returns a process exit code, prints through `out`. */
  def run(spark: SparkSession, args: Seq[String], out: String => Unit): Int = {
    if (args.isEmpty) { out(usage); return 2 }
    val opts = parseOpts(args.tail) match {
      case Right(o) => o
      case Left(msg) => out(s"error: $msg"); out(usage); return 2
    }
    def req(key: String): String = opts.getOrElse(key,
      throw new IllegalArgumentException(s"missing required --$key"))
    try {
      args.head match {
        case "build"  => build(spark, req("input"), req("index"), opts, out)
        case "delta"  => delta(spark, req("input"), req("index"), opts, out)
        case "remove" => remove(spark, req("input"), req("index"), opts, out)
        case "search" => search(spark, req("index"), req("query"), opts, out)
        case "serve"  => serve(spark, req("index"), opts, out)
        case "batch"  => batchSearch(spark, req("index"), req("queries"), opts, out)
        case "vacuum" =>
          val deleted = ParquetIndexStorage.vacuum(spark, req("index"))
          out(s"""{"vacuumed":${deleted.size}}""")
        case "compact" => compact(spark, req("index"), opts, out)
        case "stats"   => stats(spark, req("index"), out)
        case other    => out(s"error: unknown subcommand '$other'"); out(usage); return 2
      }
      0
    } catch {
      case e: IllegalArgumentException => out(s"error: ${e.getMessage}"); out(usage); 2
    }
  }

  private def parseOpts(args: Seq[String]): Either[String, Map[String, String]] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil => Right(acc)
        case flag :: tail if flag.startsWith("--") =>
          val key = flag.stripPrefix("--")
          if (key == "no-keymap") loop(tail, acc + (key -> "true"))
          else tail match {
            case v :: tail2 => loop(tail2, acc + (key -> v))
            case Nil => Left(s"flag $flag needs a value")
          }
        case other :: _ => Left(s"unexpected argument '$other'")
      }
    loop(args.toList, Map.empty)
  }

  private[graft] def analyzerOf(opts: Map[String, String]): Analyzer = {
    val stop = opts.get("stopwords").map(_.split(",").toSeq).getOrElse(Nil)
    // optional normalization stages, inserted right after lowercasing:
    // --fold true (accent folding), --synonyms k=v,k2=v2 (canonicalization)
    val post: Seq[TokenFilter] =
      (if (opts.get("fold").exists(_.toBoolean)) Seq(AsciiFoldingFilter()) else Nil) ++
      opts.get("synonyms").toSeq.map { s =>
        SynonymFilter(s.split(",").map { kv =>
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => k -> v
            case _ => throw new IllegalArgumentException(
              s"bad --synonyms entry '$kv' (want term=canonical)")
          }
        }.toMap)
      }
    val stopF = if (stop.nonEmpty) Seq(StopWordFilter(stop)) else Nil
    opts.getOrElse("analyzer", "standard") match {
      case "standard" =>
        Analyzer(Nil, StandardTokenizer(), Seq(LowercaseFilter()) ++ post ++ stopF)
      case "stem" =>
        Analyzer(Nil, StandardTokenizer(),
          Seq(LowercaseFilter()) ++ post ++ stopF ++ Seq(StemmerFilter()))
      case s if s.startsWith("ngram:") =>
        val n = s.stripPrefix("ngram:").toInt
        Analyzer(Nil, NgramTokenizer(n), Seq(LowercaseFilter()) ++ post ++ stopF)
      case other => throw new IllegalArgumentException(s"unknown analyzer '$other'")
    }
  }

  private def build(spark: SparkSession, input: String, index: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val analyzer = analyzerOf(opts)
    val textCol = opts.getOrElse("text-col", "text")
    val in = spark.read.parquet(input)
    val keyCols =
      if (opts.contains("no-keymap")) Nil
      else Seq("conv_id", "turn_idx").filter(in.columns.contains)
    // dense ordinals from the stable (conv_id, turn_idx) order — the per-row
    // invariant vs the reference (per-turn text equality under stable turn
    // ordering); inputs without those columns order by their first column
    val ordCols = if (keyCols.nonEmpty) keyCols else in.columns.take(1).toSeq
    val (withOrd, ordCleanup) = Ids.withDenseOrdinalHandle(in, "doc_ord", ordCols)
    val params = StorageParams(
      termBuckets = opts.get("term-buckets").map(_.toInt).getOrElse(64),
      writeGroups = opts.get("write-groups").map(_.toInt).getOrElse(8),
      blockParams = graft.index.BlockParams(
        blockSize = opts.get("block-size").map(_.toInt).getOrElse(128),
        bucketSpan = opts.get("bucket-span").map(_.toLong).getOrElse(65536L)),
      keyCols = keyCols)
    val mf = ParquetIndexStorage.build(withOrd, analyzer, index, params,
      sourceDesc = input, textCol = textCol)
    ordCleanup()
    out(s"""{"built":"$index","numDocs":${mf.numDocs},"avgDocLen":${mf.avgDocLen},"stages":${mf.stages.size}}""")
  }

  private def delta(spark: SparkSession, input: String, index: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val analyzer = checkAnalyzer(index, opts)
    val textCol = opts.getOrElse("text-col", "text")
    val batch = spark.read.parquet(input)
    // one explicit flush per CLI invocation; addBatch handles key resolution
    // (keymap-pruned), replacement semantics, and ordinal/term-id minting
    val si = StreamingIndexer.overStorage(spark, index, analyzer, textCol,
      flushThreshold = Long.MaxValue)
    si.addBatch(batch)
    si.flush(opts.get("batch-id")) // explicit id = idempotent across re-runs
    val mf = graft.storage.ManifestIO
      .read(s"$index/manifest.json", classOf[graft.storage.IndexManifest]).get
    out(s"""{"applied":"$input","numDocs":${mf.numDocs},"avgDocLen":${mf.avgDocLen}}""")
  }

  private def remove(spark: SparkSession, input: String, index: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val keys = spark.read.parquet(input)
    // default id: probe past claimed remove epochs. A path- or run-derived
    // id would hit its own applied marker when the SAME path carries NEW
    // keys next run and silently skip the deletion; a fresh epoch always
    // applies, and re-running the same key set is a semantic no-op anyway
    // (removing already-gone docs removes nothing).
    val id = opts.getOrElse("batch-id", {
      val e = ParquetIndexStorage.nextFreeEpoch(0L)(i =>
        ParquetIndexStorage.deltaClaimed(index, s"remove_$i"))
      s"remove_$e"
    })
    val mf = ParquetIndexStorage.removeDocuments(spark, index, keys, batchId = id)
    val removed = graft.storage.ManifestIO // this batch's own marker, not the
      .read(s"$index/_markers/delta_${id}_applied.json", // manifest's last
        classOf[graft.storage.StageMarker])              // (possibly older) stage
      .flatMap(_.lineage.get("removed")).getOrElse("0")
    out(s"""{"removed":$removed,"numDocs":${mf.numDocs},"avgDocLen":${mf.avgDocLen}}""")
  }

  private def compact(spark: SparkSession, index: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val before = ParquetIndexStorage.ordinalDensity(spark, index)
    // auto id probes past claimed compaction epochs (same reasoning as
    // remove: a path-derived id would no-op a LATER compaction of the same
    // index; a fresh epoch always applies, and compacting an already-dense
    // index is cheap and harmless)
    val id = opts.getOrElse("batch-id",
      ParquetIndexStorage.nextFreeEpoch(0L)(i =>
        ParquetIndexStorage.compactClaimed(index, s"$i")).toString)
    // --groups: incremental per-d_group compaction — `auto` selects groups
    // below --min-density (default 0.5), or an explicit comma list; absent
    // = the full dense rewrite
    val mf = opts.get("groups") match {
      case None => ParquetIndexStorage.compact(spark, index, id)
      case Some(spec) =>
        val gs =
          if (spec == "auto")
            ParquetIndexStorage.sparseDGroups(spark, index,
              opts.getOrElse("min-density", "0.5").toDouble)
          else spec.split(",").map(_.trim.toLong).toSeq
        if (gs.isEmpty) {
          out(s"""{"compacted":"$index","groups":[],"densityBefore":$before,"densityAfter":$before}""")
          return
        }
        ParquetIndexStorage.compactGroups(spark, index, id, gs)
    }
    val after = ParquetIndexStorage.ordinalDensity(spark, index)
    out(s"""{"compacted":"$index","numDocs":${mf.numDocs},""" +
      s""""densityBefore":$before,"densityAfter":$after}""")
  }

  private def stats(spark: SparkSession, index: String, out: String => Unit): Unit = {
    val mf = graft.storage.ManifestIO
      .read(s"$index/manifest.json", classOf[graft.storage.IndexManifest])
      .getOrElse(throw new IllegalArgumentException(s"no committed index at $index"))
    val density = ParquetIndexStorage.ordinalDensity(spark, index)
    val vocab = spark.read.parquet(s"$index/term_dict").count()
    val tokens = mf.stages.reverse.collectFirst {
      case s if s.lineage.contains("tokens") => s.lineage("tokens").toLong
    }.getOrElse(-1L)
    out(s"""{"index":"$index","numDocs":${mf.numDocs},"avgDocLen":${mf.avgDocLen},""" +
      s""""tokens":$tokens,"vocab":$vocab,"ordinalDensity":$density,""" +
      s""""analyzer":"${mf.analyzer}","formatVersion":${mf.formatVersion},""" +
      s""""termBuckets":${mf.termBuckets},"stages":${mf.stages.size}}""")
  }

  private def checkAnalyzer(index: String, opts: Map[String, String]): Analyzer = {
    val analyzer = analyzerOf(opts)
    val mf = graft.storage.ManifestIO
      .read(s"$index/manifest.json", classOf[graft.storage.IndexManifest])
    mf.foreach { m =>
      require(m.analyzer == analyzer.describe,
        s"analyzer mismatch: index built with ${m.analyzer}, got ${analyzer.describe} " +
          "(pass the SAME --analyzer/--stopwords the index was built with)")
    }
    analyzer
  }

  /** Interactive serving loop (the deployment shape `Searcher.serving()`
    * exists for): pin ONCE, then answer a stream of queries — from
    * `--queries <file>` or stdin, one per line as `mode<TAB>query` (bare
    * lines default to wand top-k). Modes: `wand` (pinned bucket-local
    * top-k), `count-and` / `count-or` (block-local hit counts), `and` /
    * `or` / `phrase` (full match rows). A per-query latency line follows
    * each answer. spark-submit keeps the session alive for the loop's
    * lifetime; the pins die with it. */
  private def serve(spark: SparkSession, index: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val searcher = Searcher(ParquetIndexStorage.read(spark, index),
      checkAnalyzer(index, opts))
    searcher.serving(pinDocs = true,
      pinPostings = opts.get("pin-postings").exists(_.toBoolean))
    val target = One(searcher)
    val src = opts.get("queries") match {
      case Some(f) => scala.io.Source.fromFile(f)
      case None    => scala.io.Source.stdin
    }
    try {
      for (line <- src.getLines().map(_.trim)
           if line.nonEmpty && !line.startsWith("#")) {
        val (mode, query) = line.split("\t", 2) match {
          case Array(m, q) => (m, q)
          case _           => ("wand", line)
        }
        val t0 = System.nanoTime()
        mode match {
          case "count-and" => out(s"count\t${searcher.countMatches(query, And)}")
          case "count-or"  => out(s"count\t${searcher.countMatches(query, Or)}")
          case "wand" | "and" | "or" | "phrase" =>
            printMode(searchModes(mode), target, Req(query, opts), out)
          case other    => out(s"error: unknown serve mode '$other'")
        }
        out(f"# ${(System.nanoTime() - t0) / 1e6}%.1f ms")
      }
    } finally {
      src.close()
      searcher.unpin()
    }
  }

  /** One `search` invocation's query text and options. */
  private[graft] final case class Req(query: String, opts: Map[String, String]) {
    def int(key: String, default: Int): Int = opts.get(key).map(_.toInt).getOrElse(default)
    def double(key: String, default: Double): Double =
      opts.get(key).map(_.toDouble).getOrElse(default)
    def k: Int = int("k", 10)
    def limit: Int = int("limit", 20)
    def slop: Int = int("slop", 0)
    def required(key: String, why: String): String =
      opts.getOrElse(key, throw new IllegalArgumentException(why))
  }

  /** One search mode. Doc-row modes print document rows (with the score
    * when `ranked`, see [[printMode]]); the others print every column of
    * their frame, doubles at `decimals` places. `federated = false` modes
    * need the single index's docs store. */
  private[graft] final case class Mode(docRows: Boolean, ranked: Boolean = false,
      decimals: Option[Int] = None, federated: Boolean = true)(
      val run: (Target, Req) => DataFrame)

  /** Every `search --mode`, for one index and a federation alike. */
  private[graft] val searchModes: ListMap[String, Mode] = {
    def docs(ranked: Boolean)(run: (Target, Req) => DataFrame) =
      Mode(docRows = true, ranked)(run)
    def table(decimals: Option[Int] = None, federated: Boolean = true)(
        run: (Target, Req) => DataFrame) =
      Mode(docRows = false, decimals = decimals, federated = federated)(run)
    ListMap(
      "and"    -> docs(ranked = false)((t, r) => t.q.matchQuery(r.query, And).limit(r.limit)),
      "or"     -> docs(ranked = false)((t, r) => t.q.matchQuery(r.query, Or).limit(r.limit)),
      "phrase" -> docs(ranked = false)((t, r) =>
        t.q.phraseQuery(r.query, slop = r.slop).limit(r.limit)),
      "phrase-prefix" -> docs(ranked = false)((t, r) =>
        t.q.matchPhrasePrefix(r.query, slop = r.slop).limit(r.limit)),
      "msm"    -> docs(ranked = false)((t, r) =>
        t.msm(r.query, r.int("min-match", 2)).limit(r.limit)),
      "tfidf"  -> docs(ranked = true)((t, r) => t.q.matchQueryRanked(r.query, Or).limit(r.k)),
      "bm25"   -> docs(ranked = true)((t, r) => t.q.bm25TopK(r.query, r.k)),
      "lm"     -> docs(ranked = true)((t, r) => t.q.lmDirichletTopK(r.query, r.k, r.double("mu", 2000.0))),
      "wand"   -> docs(ranked = true)((t, r) => t.q.bm25TopKWand(r.query, r.k)),
      "collapse" -> docs(ranked = true)((t, r) => t.q.bm25TopKCollapse(r.query,
        r.opts.getOrElse("collapse-field", "conv_id"), r.k)),
      "all"    -> docs(ranked = false)((t, r) => t.q.matchAll().limit(r.limit)),
      // Lucene-lite query-string syntax (AND/OR/NOT, -term, parens,
      // "quoted phrases"), unranked or positive-clause BM25
      "qs"     -> docs(ranked = false)((t, r) => t.q.queryString(r.query).limit(r.limit)),
      "qs-ranked" -> docs(ranked = true)((t, r) =>
        t.q.queryString(r.query, ranked = true).limit(r.k)),
      // dictionary expansions (a federation expands over its merged vocabulary)
      "prefix" -> docs(ranked = false)((t, r) => t.q.prefixQuery(r.query).limit(r.limit)),
      "fuzzy"  -> docs(ranked = false)((t, r) =>
        t.q.fuzzyQuery(r.query, maxEdits = r.int("max-edits", 1)).limit(r.limit)),
      "wildcard" -> docs(ranked = false)((t, r) => t.q.wildcardQuery(r.query).limit(r.limit)),
      "regexp" -> docs(ranked = false)((t, r) => t.q.regexpQuery(r.query).limit(r.limit)),
      "range"  -> docs(ranked = false) { (t, r) => // --query "lo,hi"; empty side = open end
        val bounds = r.query.split(",", -1)
        require(bounds.length == 2, s"range query must be 'lo,hi' (got '${r.query}')")
        t.q.termRangeQuery(bounds(0), bounds(1)).limit(r.limit)
      },
      "rescore" -> docs(ranked = true)((t, r) => t.q.bm25TopKRescore(r.query,
        r.required("rescore-phrase", "rescore needs --rescore-phrase"),
        windowSize = r.int("window-size", 100), k = r.k,
        rescoreWeight = r.double("rescore-weight", 1.0),
        slop = r.slop)),
      // modes addressing one document: a doc_ord for one index,
      // comma-separated key values for a federation
      "mlt"    -> docs(ranked = true)((t, r) => t.moreLikeThis(r.query, r.k)),
      // one doc's indexed view (ES _termvectors) and per-term BM25
      // breakdown (ES _explain: --query is the keyword, --doc the document)
      "termvectors" -> table()((t, r) => t.termVectors(r.query)),
      "explain" -> table(Some(6))((t, r) => t.explainScore(r.query,
        r.required("doc", "explain needs --doc <doc_ord, or key values for a federation>"))),
      "highlight" -> table()((t, r) => t.q.highlightTerms(r.query, Or).limit(r.limit)
        .select((t.keyCols :+ "hit_terms").map(col): _*)),
      "snippet" -> table()((t, r) => t.q.snippet(r.query, r.int("window", 2)).limit(r.limit)
        .select((t.keyCols ++ Seq("first_pos", "snippet")).map(col): _*)),
      "suggest" -> table()((t, r) => t.q.suggest(r.query, n = r.k)),
      "dym"    -> table()((t, r) =>
        t.q.didYouMean(r.query, maxEdits = r.int("max-edits", 2), n = r.k)),
      "facets" -> table() { (t, r) =>
        val field = r.opts.getOrElse("facet-field", "role")
        t.q.facetCounts(r.query, Or, field).orderBy(col("n_docs").desc, col(field))
      },
      "sigterms" -> table(Some(4))((t, r) => t.q.significantTerms(r.query, Or, topN = r.k,
        minDocCount = r.opts.get("min-doc-count").map(_.toLong).getOrElse(3L))),
      "context" -> table(federated = false)((t, r) => context(t.single.get, r)))
  }

  /** Conversation windows around the BM25 top-k: the transcripts serving
    * shape — retrieve, then feed each hit's ±window surrounding turns (RAG
    * context) downstream. Conversations sliced by time can span slices, so
    * a federation does not serve it. */
  private def context(s: Searcher, r: Req): DataFrame = {
    require(Seq("conv_id", "turn_idx").forall(s.index.docs.columns.contains),
      "context mode needs conv_id/turn_idx docs columns (build from a transcripts table)")
    s.contextWindows(s.bm25TopK(r.query, r.k).select("doc_ord"), "conv_id", "turn_idx",
        r.int("window", 2))
      .orderBy(col("hit_ord"), col("offset"))
      .select("hit_ord", "offset", "conv_id", "turn_idx", "text")
  }

  private def search(spark: SparkSession, index: String, query: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val name = opts.getOrElse("mode", "wand")
    val mode = searchModes.getOrElse(name,
      throw new IllegalArgumentException(s"unknown mode '$name'"))
    if (index.contains(",") && !mode.federated)
      throw new IllegalArgumentException(s"mode '$name' is not federated; use " +
        searchModes.filter(_._2.federated).keys.mkString("|") +
        " with comma-separated --index")
    printMode(mode, targetOf(spark, index, opts), Req(query, opts), out)
  }

  /** TSV of every column of a table-shaped mode's frame; doubles at
    * `decimals` places when given. */
  private def printTable(df: DataFrame, decimals: Option[Int],
      out: String => Unit): Unit = {
    out(df.columns.mkString("\t"))
    df.collect().foreach { r =>
      out(r.toSeq.map {
        case d: Double if decimals.isDefined => s"%.${decimals.get}f".format(d)
        case v => String.valueOf(v)
      }.mkString("\t"))
    }
  }

  /** A mode's rows as printed: doc-row modes show the key columns, then
    * the score when ranked, then any transcript columns present. */
  private def printMode(mode: Mode, t: Target, r: Req, out: String => Unit): Unit = {
    val df = mode.run(t, r)
    val cols = t.keyCols ++ (if (mode.ranked) Seq("score") else Nil) ++
      Seq("conv_id", "turn_idx", "text")
        .filter(c => df.columns.contains(c) && !t.keyCols.contains(c))
    printTable(if (mode.docRows) df.select(cols.map(col): _*) else df, mode.decimals, out)
  }

  /** What `search`, `batch` and `serve` run against: the shared query
    * surface, the key columns its rows print by, and document addressing —
    * a doc_ord for one index, comma-separated key values for a federation.
    * `msm` is bound here too: the searcher's takes an extra `ranked`. */
  private[graft] sealed trait Target {
    def q: QueryTarget
    def keyCols: Seq[String]
    def single: Option[Searcher] = None
    def msm(query: String, n: Int): DataFrame
    def moreLikeThis(doc: String, k: Int): DataFrame
    def termVectors(doc: String): DataFrame
    def explainScore(query: String, doc: String): DataFrame
  }

  private final case class One(q: Searcher) extends Target {
    val keyCols: Seq[String] = Seq("doc_ord")
    override def single: Option[Searcher] = Some(q)
    def msm(query: String, n: Int): DataFrame = q.matchQueryMsm(query, n)
    def moreLikeThis(doc: String, k: Int): DataFrame = q.moreLikeThis(doc.trim.toLong, k = k)
    def termVectors(doc: String): DataFrame = q.termVectors(doc.trim.toLong)
    def explainScore(query: String, doc: String): DataFrame =
      q.explainScore(query, doc.trim.toLong)
  }

  private final case class Fed(q: Federation, keyCols: Seq[String]) extends Target {
    private def key(doc: String): Seq[Any] = doc.split(",").map(_.trim).toSeq
    def msm(query: String, n: Int): DataFrame = q.matchQueryMsm(query, n)
    def moreLikeThis(doc: String, k: Int): DataFrame = q.moreLikeThis(key(doc), k = k)
    def termVectors(doc: String): DataFrame = q.termVectors(key(doc))
    def explainScore(query: String, doc: String): DataFrame = q.explainScore(query, key(doc))
  }

  /** `--index <path>` opens one index; `--index a,b,c` federates
    * independently built slices (time slices or shards): global BM25
    * statistics are merged across them ([[graft.query.Federation]]), so
    * results are rank-identical to one monolithic index over the union
    * corpus, keyed by the slices' stable key columns instead of the
    * slice-local doc_ord. */
  private def targetOf(spark: SparkSession, index: String,
      opts: Map[String, String]): Target = {
    if (!index.contains(","))
      return One(Searcher(ParquetIndexStorage.read(spark, index), checkAnalyzer(index, opts)))
    val paths = index.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(paths.size >= 2, "federated search needs at least two --index paths")
    val analyzer = paths.map(checkAnalyzer(_, opts)).head
    val slices = paths.map(ParquetIndexStorage.read(spark, _))
    val keyCols = slices.map(_.manifest.keyCols).distinct match {
      case Seq(kc) if kc.nonEmpty => kc
      case Seq(_) if slices.head.index.docs.columns.contains("doc_id") =>
        Seq("doc_id") // keymap-less slices with an explicit stable id col
      case Seq(_) => throw new IllegalArgumentException(
        "federated search needs a stable per-doc key: build slices with a " +
          "keymap (the default) or include a doc_id column in the input")
      case other => throw new IllegalArgumentException(
        s"slices disagree on key columns: $other")
    }
    // paths enable the keymap-pruned home-slice key resolution for
    // single-document modes: only the hashed key bucket is read
    Fed(Federation.ofPersisted(slices, analyzer, keyCols, paths), keyCols)
  }

  /** `batch`: the query set as ONE plan per index ([[QueryTarget.bm25TopKBatch]]);
    * a federation runs it per slice with global idf/avgdl and one gather
    * window — ranks and scores identical to a monolithic index. */
  private def batchSearch(spark: SparkSession, index: String, queriesFile: String,
      opts: Map[String, String], out: String => Unit): Unit = {
    val k = opts.get("k").map(_.toInt).getOrElse(10)
    val queries = scala.io.Source.fromFile(queriesFile, "UTF-8") match {
      case src => try src.getLines().map(_.trim).filter(_.nonEmpty).toSeq
                  finally src.close()
    }
    require(queries.nonEmpty, s"no queries in $queriesFile")
    val t = targetOf(spark, index, opts)
    val df = opts.getOrElse("mode", "wand") match {
      case "wand" => t.q.bm25TopKBatchWand(queries, k)
      case "bm25" => t.q.bm25TopKBatch(queries, k)
      case other  => throw new IllegalArgumentException(s"unknown batch mode '$other'")
    }
    // rows are (q_id, rank, key columns…, score)
    out((Seq("q_id", "query", "rank") ++ t.keyCols :+ "score").mkString("\t"))
    df.orderBy(col("q_id"), col("rank")).collect().foreach { r =>
      out((r.get(0) +: queries(r.getAs[Number](0).intValue) +: r.toSeq.tail)
        .map(String.valueOf).mkString("\t"))
    }
  }
}
