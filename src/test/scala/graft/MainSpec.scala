package graft

import org.apache.spark.sql.functions._

/** End-to-end drive of the spark-submit CLI surface (`graft.Main.run`):
  * build an index from a transcripts parquet, query it in every mode, fold
  * in a delta batch, and verify replacement semantics through the CLI. */
class MainSpec extends SparkSpec {

  private def captured(args: String*): (Int, Seq[String]) = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Main.run(spark, args, buf += _)
    (code, buf.toSeq)
  }

  private lazy val root = {
    val dir = java.nio.file.Files.createTempDirectory("graft_main_spec_").toString
    import spark.implicits._
    val turns = Seq(
      ("c1", 0, "user", "spark join table", "none", java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      ("c1", 1, "assistant", "broadcast join wins", "none", java.sql.Timestamp.valueOf("2026-01-01 00:00:01")),
      ("c2", 0, "user", "shuffle partitions tuning", "none", java.sql.Timestamp.valueOf("2026-01-01 00:01:00")),
      ("c2", 1, "assistant", "spark shuffle join table", "none", java.sql.Timestamp.valueOf("2026-01-01 00:01:30"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    turns.write.parquet(s"$dir/turns")
    Seq(
      ("c1", 1, "assistant", "sort merge join replaces it", "none", java.sql.Timestamp.valueOf("2026-01-02 00:00:01")),
      ("c3", 0, "user", "new conversation about spark", "none", java.sql.Timestamp.valueOf("2026-01-02 00:01:00"))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.parquet(s"$dir/delta")
    dir
  }
  private lazy val idx = s"$root/idx"

  test("build commits a keymapped index and reports stats") {
    val (code, out) = captured("build", "--input", s"$root/turns", "--index", idx,
      "--term-buckets", "4", "--write-groups", "2",
      "--block-size", "8", "--bucket-span", "64")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.contains("\"numDocs\":4")))
    val mf = graft.storage.ManifestIO
      .read(s"$idx/manifest.json", classOf[graft.storage.IndexManifest]).get
    assert(mf.keyCols == Seq("conv_id", "turn_idx"))
  }

  test("search modes return expected docs through the CLI") {
    val (c1, andOut) = captured("search", "--index", idx, "--query", "spark join", "--mode", "and")
    assert(c1 == 0)
    // header + matches; "spark join table" rows (c1/0 and c2/1) both match AND
    val andRows = andOut.drop(1)
    assert(andRows.length == 2 && andRows.forall(_.contains("spark")))

    val (c2, wandOut) = captured("search", "--index", idx, "--query", "spark join", "--mode", "wand", "--k", "3")
    assert(c2 == 0)
    assert(wandOut.length == 4) // header + 3 BM25 hits (spark OR join)
    assert(wandOut(1).split("\t")(1).toDouble >= wandOut(2).split("\t")(1).toDouble)

    val (c3, phraseOut) = captured("search", "--index", idx, "--query", "join table", "--mode", "phrase")
    assert(c3 == 0 && phraseOut.drop(1).length == 2)

    val (c4, allOut) = captured("search", "--index", idx, "--query", "-", "--mode", "all")
    assert(c4 == 0 && allOut.drop(1).length == 4)
  }

  test("compound search modes: qs, qs-ranked, prefix, fuzzy, mlt, suggest") {
    // query-string: join AND NOT broadcast -> the two "spark ... join table"
    val (c1, qs) = captured("search", "--index", idx,
      "--query", "join AND NOT broadcast", "--mode", "qs")
    assert(c1 == 0 && qs.drop(1).length == 2, qs.mkString("\n"))
    // -term sugar + ranked path carries a score column
    val (c2, qsr) = captured("search", "--index", idx,
      "--query", "join -broadcast", "--mode", "qs-ranked", "--k", "5")
    assert(c2 == 0 && qsr.head.split("\t").contains("score") && qsr.drop(1).length == 2)
    // prefix expansion: shuf* -> both shuffle docs
    val (c3, pf) = captured("search", "--index", idx, "--query", "shuf", "--mode", "prefix")
    assert(c3 == 0 && pf.drop(1).length == 2)
    // fuzzy: spork ~1 -> spark docs
    val (c4, fz) = captured("search", "--index", idx, "--query", "spork",
      "--mode", "fuzzy", "--max-edits", "1")
    assert(c4 == 0 && fz.drop(1).length == 2 && fz.drop(1).forall(_.contains("spark")))
    // more-like-this: doc_ord 0 = "spark join table"; best match shares 3 terms
    val (c5, mlt) = captured("search", "--index", idx, "--query", "0", "--mode", "mlt", "--k", "3")
    assert(c5 == 0 && mlt.length >= 2, mlt.mkString("\n"))
    assert(mlt(1).contains("spark shuffle join table"))
    assert(!mlt.drop(1).exists(_.endsWith("\tspark join table"))) // source excluded
    // suggest: s-prefix terms by df desc, term asc -> shuffle before spark
    val (c6, sg) = captured("search", "--index", idx, "--query", "s", "--mode", "suggest", "--k", "3")
    assert(c6 == 0 && sg.head == "term\tdf", sg.mkString("\n"))
    assert(sg(1).startsWith("shuffle\t") && sg(2).startsWith("spark\t"))
    // did-you-mean: 'sprak' corrects to spark at distance 2
    val (c7, dy) = captured("search", "--index", idx, "--query", "sprak", "--mode", "dym")
    assert(c7 == 0 && dy.head == "term\tdf\tdistance", dy.mkString("\n"))
    assert(dy(1).startsWith("spark\t"), dy.mkString("\n"))
    // facets: matched docs counted per role
    val (c8, fc) = captured("search", "--index", idx, "--query", "spark join",
      "--mode", "facets", "--facet-field", "role")
    assert(c8 == 0 && fc.head == "role\tn_docs", fc.mkString("\n"))
    assert(fc.drop(1).nonEmpty && fc.drop(1).forall(_.split("\t").length == 2))
    // sigterms: over-represented terms of the matched set
    val (c9, st) = captured("search", "--index", idx, "--query", "spark",
      "--mode", "sigterms", "--min-doc-count", "1", "--k", "5")
    assert(c9 == 0 && st.head == "term\tdf_in\tdf\tlift", st.mkString("\n"))
    assert(st.drop(1).exists(_.startsWith("spark\t")), st.mkString("\n"))
  }

  test("context and lm search modes through the CLI") {
    // top hit for 'shuffle partitions' is c2/0; ±1 window pulls c2/1
    val (c1, ctx) = captured("search", "--index", idx, "--query",
      "shuffle partitions", "--mode", "context", "--k", "1", "--window", "1")
    assert(c1 == 0, ctx.mkString("\n"))
    assert(ctx.head == Seq("hit_ord", "offset", "conv_id", "turn_idx", "text").mkString("\t"))
    val rows = ctx.tail.map(_.split("\t"))
    assert(rows.map(r => (r(2), r(3), r(1))).toSet ==
      Set(("c2", "0", "0"), ("c2", "1", "1")), ctx.mkString("\n"))
    // LM-Dirichlet ranking: the two-term doc tops
    val (c2, lm) = captured("search", "--index", idx, "--query", "spark join",
      "--mode", "lm", "--k", "3")
    assert(c2 == 0 && lm.head.contains("score"), lm.mkString("\n"))
    assert(lm(1).contains("spark join table"), lm.mkString("\n"))
  }

  test("slop / msm / collapse / boost search modes through the CLI") {
    // corpus: c1/0 "spark join table", c1/1 "broadcast join wins",
    //         c2/0 "shuffle partitions tuning", c2/1 "spark shuffle join table"
    // exact phrase "spark table" matches nothing; slop 1 bridges the gap
    val (c1, p0) = captured("search", "--index", idx, "--query", "spark table", "--mode", "phrase")
    assert(c1 == 0 && p0.drop(1).isEmpty)
    val (c2, p1) = captured("search", "--index", idx, "--query", "spark table",
      "--mode", "phrase", "--slop", "1")
    assert(c2 == 0 && p1.drop(1).length == 1 && p1(1).contains("spark join table"))
    // msm 2 of {spark, join, tuning}: both "spark ... join table" rows
    val (c3, m2) = captured("search", "--index", idx, "--query", "spark join tuning",
      "--mode", "msm", "--min-match", "2")
    assert(c3 == 0 && m2.drop(1).length == 2, m2.mkString("\n"))
    // collapse on conv_id: one best row per conversation
    val (c4, cl) = captured("search", "--index", idx, "--query", "spark join",
      "--mode", "collapse", "--k", "10")
    assert(c4 == 0 && cl.head.split("\t").contains("score"))
    val convs = cl.drop(1).map(_.split("\t")(2))
    assert(convs.length == 2 && convs.distinct.length == 2, cl.mkString("\n"))
    // boost via query string: tuning^5 dominates a plain join query
    val (c5, bq) = captured("search", "--index", idx,
      "--query", "tuning^5 OR join", "--mode", "qs-ranked", "--k", "5")
    assert(c5 == 0 && bq(1).contains("tuning"), bq.mkString("\n"))
  }

  test("fold/synonym analyzer options round-trip through the manifest") {
    val idx2 = s"$root/idx_syn"
    val (c, out) = captured("build", "--input", s"$root/turns", "--index", idx2,
      "--term-buckets", "2", "--write-groups", "1",
      "--fold", "true", "--synonyms", "join=merge")
    assert(c == 0, out.mkString("\n"))
    // 'merge' is the canonical form: all three join docs match
    val (c2, q) = captured("search", "--index", idx2, "--query", "merge",
      "--mode", "or", "--fold", "true", "--synonyms", "join=merge")
    assert(c2 == 0 && q.drop(1).length == 3, q.mkString("\n"))
    // omitting the flags fails the analyzer-parity check loudly
    val (c3, e) = captured("search", "--index", idx2, "--query", "merge", "--mode", "or")
    assert(c3 == 2 && e.exists(_.contains("analyzer mismatch")), e.mkString("\n"))
    // malformed synonym spec is rejected
    assert(captured("build", "--input", s"$root/turns", "--index", s"$root/idx_bad",
      "--synonyms", "justaword")._1 == 2)
  }

  test("search with a mismatched analyzer fails loudly") {
    val (code, out) = captured("search", "--index", idx, "--query", "spark",
      "--analyzer", "ngram:3")
    assert(code == 2 && out.exists(_.contains("analyzer mismatch")))
  }

  test("delta replaces and appends through the CLI; queries see new content") {
    val (code, out) = captured("delta", "--input", s"$root/delta", "--index", idx)
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.contains("\"numDocs\":5"))) // 4 - 1 replaced + 2 = 5

    // replaced turn (c1,1): old term gone, new term matches
    val (_, oldQ) = captured("search", "--index", idx, "--query", "broadcast", "--mode", "or")
    assert(oldQ.drop(1).isEmpty)
    val (_, newQ) = captured("search", "--index", idx, "--query", "merge", "--mode", "or")
    assert(newQ.drop(1).length == 1 && newQ(1).contains("c1"))
    // appended turn is searchable
    val (_, c3Q) = captured("search", "--index", idx, "--query", "conversation", "--mode", "or")
    assert(c3Q.drop(1).length == 1 && c3Q(1).contains("c3"))
  }

  test("vacuum drops applied staging data; index stays queryable and idempotent") {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def stageDirs() = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/_stage")
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName).toSeq else Nil
    }
    assert(stageDirs().exists(_.startsWith("delta_"))) // delta test staged one
    assert(stageDirs().contains("raw"))
    val (code, out) = captured("vacuum", "--index", idx)
    assert(code == 0 && out.exists(_.contains("\"vacuumed\":2")))
    assert(stageDirs().isEmpty)
    // still queryable, and the applied marker still makes re-apply a no-op
    val (_, q) = captured("search", "--index", idx, "--query", "merge", "--mode", "or")
    assert(q.drop(1).length == 1)
    // explicit-batch-id deltas are idempotent across re-runs (applied
    // marker survives vacuum): twice with the same id, same numDocs
    val (c2, out2) = captured("delta", "--input", s"$root/delta", "--index", idx,
      "--batch-id", "redo1")
    assert(c2 == 0 && out2.exists(_.contains("\"numDocs\":5")))
    val (c3, out3) = captured("delta", "--input", s"$root/delta", "--index", idx,
      "--batch-id", "redo1")
    assert(c3 == 0 && out3.exists(_.contains("\"numDocs\":5")))
  }

  test("batch evaluates a query file in one plan; wand ranks == exhaustive") {
    val qf = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/queries.txt"),
      "spark join\nmerge\n\nconversation\n".getBytes("UTF-8")).toString
    val (cw, wand) = captured("batch", "--index", idx, "--queries", qf, "--k", "3")
    assert(cw == 0, wand.mkString("\n"))
    val (ce, exh) = captured("batch", "--index", idx, "--queries", qf,
      "--k", "3", "--mode", "bm25")
    assert(ce == 0)
    // rank-identical (WAND is lossless), and the echoed query text matches
    assert(wand == exh)
    val rows = wand.drop(1).map(_.split("\t"))
    assert(rows.nonEmpty && rows.forall(_.length == 5))
    assert(rows.filter(_(1) == "merge").map(_(3)).distinct.length == 1)
    assert(rows.exists(_(1) == "conversation"))
    // per-query ranks ascend from 1
    rows.groupBy(_(0)).values.foreach { g =>
      assert(g.map(_(2).toInt).toSeq == (1 to g.length))
    }
  }

  /** Monolithic + two-slice fixtures shared by the federated CLI tests,
    * built on demand so test ordering doesn't matter. */
  private def fedFixtures(): (String, String, String) = {
    val (m1, s1, s2) = (s"$root/idx_mono", s"$root/idx_s1", s"$root/idx_s2")
    for ((flt, in, ix) <- Seq(
        (None, s"$root/turns", m1),
        (Some("c1"), s"$root/turns_s1", s1),
        (Some("c2"), s"$root/turns_s2", s2))) {
      if (!new java.io.File(ix).exists()) {
        flt.foreach(c => spark.read.parquet(s"$root/turns")
          .filter(col("conv_id") === c).write.mode("ignore").parquet(in))
        assert(captured("build", "--input", in, "--index", ix,
          "--term-buckets", "2", "--write-groups", "1",
          "--block-size", "8", "--bucket-span", "64")._1 == 0)
      }
    }
    (m1, s1, s2)
  }

  test("federated batch over comma-separated slices == monolithic batch") {
    import spark.implicits._
    val (m1, s1, s2) = fedFixtures()
    val qf = java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/fed_queries.txt"),
      "spark join\nshuffle\n".getBytes("UTF-8")).toString
    val (cf, fed) = captured("batch", "--index", s"$s1,$s2", "--queries", qf, "--k", "3")
    assert(cf == 0, fed.mkString("\n"))
    assert(fed.head == Seq("q_id", "query", "rank", "conv_id", "turn_idx", "score").mkString("\t"))
    val (cm, mono) = captured("batch", "--index", m1, "--queries", qf, "--k", "3")
    assert(cm == 0)
    // same (q_id, query, rank) rows with float-exact scores; the monolithic
    // output keys by doc_ord, the federated one by (conv_id, turn_idx) —
    // compare via the docs' key identity
    val fs = fed.drop(1).map { l => val f = l.split("\t")
      ((f(0), f(1), f(2)), (f(3), f(4)), f(5).toDouble) }
    // builder assigns dense ordinals in key order
    val ordToKey = spark.read.parquet(s"$root/turns")
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .sorted.zipWithIndex.map { case (k2, i) => i.toLong -> k2 }.toMap
    val ms = mono.drop(1).map { l => val f = l.split("\t")
      val k2 = ordToKey(f(3).toLong)
      ((f(0), f(1), f(2)), (k2._1, k2._2.toString), f(4).toDouble) }
    assert(fs.map(t => (t._1, t._2)) == ms.map(t => (t._1, t._2)),
      s"fed=$fs mono=$ms")
    fs.zip(ms).foreach { case (a, b) => assert(math.abs(a._3 - b._3) < 1e-9) }
    // federated exhaustive batch matches the WAND ranks too
    val (cb, fedB) = captured("batch", "--index", s"$s1,$s2", "--queries", qf,
      "--k", "3", "--mode", "bm25")
    assert(cb == 0 && fedB == fed)
  }

  test("remove deletes documents through the CLI; idempotent per batch id") {
    import spark.implicits._
    // corpus here: 5 docs (after the delta tests). Remove (c2, 0) by key.
    Seq(("c2", 0)).toDF("conv_id", "turn_idx").write.parquet(s"$root/rmkeys")
    val (code, out) = captured("remove", "--input", s"$root/rmkeys",
      "--index", idx, "--batch-id", "rmcli1")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(o => o.contains("\"removed\":1") && o.contains("\"numDocs\":4")))
    val (_, q) = captured("search", "--index", idx, "--query", "tuning", "--mode", "or")
    assert(q.drop(1).isEmpty, "removed doc still matches")
    // other docs untouched
    val (_, q2) = captured("search", "--index", idx, "--query", "merge", "--mode", "or")
    assert(q2.drop(1).length == 1)
    // same batch id re-run: no-op, same stats
    val (c2, out2) = captured("remove", "--input", s"$root/rmkeys",
      "--index", idx, "--batch-id", "rmcli1")
    assert(c2 == 0 && out2.exists(_.contains("\"numDocs\":4")))
    // WITHOUT --batch-id, fresh content at the same input path must still
    // apply (auto ids probe past claimed epochs; a path-derived id would
    // silently hit its own old marker)
    Seq(("c3", 0)).toDF("conv_id", "turn_idx")
      .write.mode("overwrite").parquet(s"$root/rmkeys")
    val (c3, out3) = captured("remove", "--input", s"$root/rmkeys", "--index", idx)
    assert(c3 == 0 && out3.exists(o =>
      o.contains("\"removed\":1") && o.contains("\"numDocs\":3")), out3.mkString("\n"))
    Seq(("c1", 0)).toDF("conv_id", "turn_idx")
      .write.mode("overwrite").parquet(s"$root/rmkeys")
    val (c4, out4) = captured("remove", "--input", s"$root/rmkeys", "--index", idx)
    assert(c4 == 0 && out4.exists(o =>
      o.contains("\"removed\":1") && o.contains("\"numDocs\":2")), out4.mkString("\n"))
  }

  test("compact densifies the ordinal space through the CLI; auto-id re-runs apply") {
    // runs after the remove tests: 2 docs live in an ordinal space the
    // removals left sparse
    val (c1, out1) = captured("compact", "--index", idx)
    assert(c1 == 0, out1.mkString("\n"))
    assert(out1.exists(_.contains("\"densityAfter\":1.0")), out1.mkString("\n"))
    // the index still answers, from remapped ordinals
    val (_, q) = captured("search", "--index", idx, "--query", "merge", "--mode", "or")
    assert(q.drop(1).length == 1, q.mkString("\n"))
    // auto-id: a SECOND compaction gets a fresh epoch and applies (already
    // dense, so it's a cheap identity rewrite), not a silent marker no-op
    val (c2, out2) = captured("compact", "--index", idx)
    assert(c2 == 0 && out2.exists(_.contains("\"densityBefore\":1.0")), out2.mkString("\n"))
    // stats introspection agrees with the post-compact state
    val (c3, out3) = captured("stats", "--index", idx)
    assert(c3 == 0 && out3.exists(o =>
      o.contains("\"numDocs\":2") && o.contains("\"ordinalDensity\":1.0") &&
        o.contains("\"analyzer\":")), out3.mkString("\n"))
  }

  test("per-d_group compaction through the CLI: --groups auto selects sparse" +
      " groups, queries unaffected, permissive threshold is an explicit no-op") {
    import spark.implicits._
    val gidx = s"$root/idx_groups"
    val (cb, _) = captured("build", "--input", s"$root/turns", "--index", gidx,
      "--term-buckets", "4", "--write-groups", "2",
      "--block-size", "8", "--bucket-span", "64")
    assert(cb == 0)
    Seq(("c1", 0)).toDF("conv_id", "turn_idx").write.parquet(s"$root/gkeys")
    assert(captured("remove", "--input", s"$root/gkeys", "--index", gidx)._1 == 0)
    // the removal leaves the group at density 0.75 — below 0.99, so auto
    // selects it and the incremental rewrite applies
    val (cg, outg) = captured("compact", "--index", gidx,
      "--groups", "auto", "--min-density", "0.99")
    assert(cg == 0 && outg.exists(_.contains("\"numDocs\":3")), outg.mkString("\n"))
    // queries unaffected by the group remap (same docs, same matches)
    val (cq, q) = captured("search", "--index", gidx, "--query", "shuffle", "--mode", "or")
    assert(cq == 0 && q.drop(1).length == 2, q.mkString("\n"))
    // nothing below a permissive threshold: explicit {"groups":[]} no-op
    val (cn, outn) = captured("compact", "--index", gidx,
      "--groups", "auto", "--min-density", "0.01")
    assert(cn == 0 && outn.exists(_.contains("\"groups\":[]")), outn.mkString("\n"))
  }

  test("serve loop answers a mixed query stream from one pinned searcher") {
    // queries file: bare line = wand top-k; mode<TAB>query otherwise
    val qf = java.nio.file.Files.createTempFile("graft_serve_", ".txt")
    java.nio.file.Files.writeString(qf, Seq(
      "spark join",                       // wand top-k (default mode)
      "count-and\tspark join",            // block-local count
      "count-or\tshuffle tuning",
      "and\tspark join",
      "phrase\tjoin table",
      "# comment and blank lines skipped",
      "",
      "nosuchmode\tq"
    ).mkString("\n"))
    val (code, out) = captured("serve", "--index", idx,
      "--queries", qf.toString, "--k", "3")
    assert(code == 0, out.mkString("\n"))
    val latencyLines = out.count(_.startsWith("# "))
    assert(latencyLines == 6, s"one latency line per query:\n${out.mkString("\n")}")
    assert(out.exists(_.contains("unknown serve mode")))
    // expectations derive from the COLD search CLI on the same index state
    // (earlier CLI tests delta/remove/compact this index — absolute row
    // counts would pin a stale corpus)
    val (_, coldWand) = captured("search", "--index", idx,
      "--query", "spark join", "--mode", "wand", "--k", "3")
    val wandHdr = out.indexWhere(_.startsWith("doc_ord"))
    val wandRows = out.slice(wandHdr + 1, wandHdr + coldWand.length)
    assert(wandRows.map(_.split("\t").take(2).toSeq) ==
      coldWand.drop(1).map(_.split("\t").take(2).toSeq),
      s"serve wand must be bit-identical to cold search wand:\n" +
        s"${wandRows.mkString("\n")}\nvs\n${coldWand.drop(1).mkString("\n")}")
    val (_, coldAnd) = captured("search", "--index", idx,
      "--query", "spark join", "--mode", "and")
    assert(out.contains(s"count\t${coldAnd.length - 1}"),
      s"block-local count must equal the cold AND row count ${coldAnd.length - 1}")
  }

  test("bad invocations return exit code 2 with usage") {
    assert(captured()._1 == 2)
    assert(captured("frobnicate")._1 == 2)
    val (c, out) = captured("search", "--index", idx) // missing --query
    assert(c == 2 && out.exists(_.contains("usage:")))
    assert(captured("search", "--index", idx, "--query", "x", "--mode", "nope")._1 == 2)
  }

  test("federated search over comma-separated slice indexes == monolithic") {
    import spark.implicits._
    // two slice inputs split by conversation + a fresh monolithic index
    // over the union (the shared `idx` is mutated by the delta/remove
    // tests); built on demand — the federated batch test shares them
    spark.read.parquet(s"$root/turns").filter(col("conv_id") === "c1")
      .write.mode("ignore").parquet(s"$root/turns_s1")
    spark.read.parquet(s"$root/turns").filter(col("conv_id") === "c2")
      .write.mode("ignore").parquet(s"$root/turns_s2")
    val (m1, s1, s2) = (s"$root/idx_mono", s"$root/idx_s1", s"$root/idx_s2")
    Seq((s"$root/turns", m1), (s"$root/turns_s1", s1), (s"$root/turns_s2", s2))
      .foreach { case (in, ix) =>
        if (!new java.io.File(ix).exists())
          assert(captured("build", "--input", in, "--index", ix,
            "--term-buckets", "2", "--write-groups", "1",
            "--block-size", "8", "--bucket-span", "64")._1 == 0)
      }
    // wand: federated (conv_id, turn_idx, score, text) vs monolithic
    // (doc_ord, score, conv_id, turn_idx, text)
    val (cf, fed) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join", "--mode", "wand", "--k", "4")
    assert(cf == 0, fed.mkString("\n"))
    assert(fed.head.startsWith("conv_id\tturn_idx\tscore"))
    val (cm, mono) = captured("search", "--index", m1,
      "--query", "spark join", "--mode", "wand", "--k", "4")
    assert(cm == 0)
    val fs = fed.drop(1).map { l => val f = l.split("\t"); (f(0), f(1), f(2).toDouble) }
    val ms = mono.drop(1).map { l => val f = l.split("\t"); (f(2), f(3), f(1).toDouble) }
    assert(fs.map(t => (t._1, t._2)) == ms.map(t => (t._1, t._2)),
      s"fed=$fs mono=$ms") // same docs in the same rank order
    fs.zip(ms).foreach { case (f, m) => assert(math.abs(f._3 - m._3) < 1e-9) }
    // unranked AND + phrase go through the federated path too
    val (ca, fedAnd) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join", "--mode", "and")
    assert(ca == 0 && fedAnd.drop(1).length == 2, fedAnd.mkString("\n"))
    val (cp, fedPhrase) = captured("search", "--index", s"$s1,$s2",
      "--query", "join table", "--mode", "phrase")
    assert(cp == 0 && fedPhrase.drop(1).length == 2)
    // federated count parity comes free: all wand hits == mono row count
    assert(fed.length == mono.length)
    // merged-vocabulary expansion modes through the federated CLI: term
    // rows (suggest/dym) and doc rows (fuzzy) match the monolithic CLI
    val (cs, fedSug) = captured("search", "--index", s"$s1,$s2",
      "--query", "s", "--mode", "suggest", "--k", "5")
    val (_, monoSug) = captured("search", "--index", m1,
      "--query", "s", "--mode", "suggest", "--k", "5")
    assert(cs == 0 && fedSug == monoSug, s"fed=$fedSug mono=$monoSug")
    val (cd, fedDym) = captured("search", "--index", s"$s1,$s2",
      "--query", "spork", "--mode", "dym", "--k", "3")
    val (_, monoDym) = captured("search", "--index", m1,
      "--query", "spork", "--mode", "dym", "--k", "3")
    assert(cd == 0 && fedDym == monoDym, s"fed=$fedDym mono=$monoDym")
    val (cz, fedFuzzy) = captured("search", "--index", s"$s1,$s2",
      "--query", "spork", "--mode", "fuzzy", "--max-edits", "1")
    assert(cz == 0 && fedFuzzy.drop(1).length == 2 &&
      fedFuzzy.drop(1).forall(_.contains("spark")), fedFuzzy.mkString("\n"))
    // query-string trees through the federated CLI: unranked membership and
    // ranked global-df scores == monolithic
    val (cq1, fedQs) = captured("search", "--index", s"$s1,$s2",
      "--query", "join AND NOT broadcast", "--mode", "qs")
    assert(cq1 == 0 && fedQs.drop(1).length == 2, fedQs.mkString("\n"))
    val (cq2, fedQsr) = captured("search", "--index", s"$s1,$s2",
      "--query", "join -broadcast", "--mode", "qs-ranked", "--k", "5")
    val (_, monoQsr) = captured("search", "--index", m1,
      "--query", "join -broadcast", "--mode", "qs-ranked", "--k", "5")
    val fq = fedQsr.drop(1).map { l => val f = l.split("\t"); (f(0), f(1), f(2).toDouble) }
    val mq = monoQsr.drop(1).map { l => val f = l.split("\t"); (f(2), f(3), f(1).toDouble) }
    assert(cq2 == 0 && fq.map(t => (t._1, t._2)) == mq.map(t => (t._1, t._2)),
      s"fed=$fq mono=$mq")
    fq.zip(mq).foreach { case (a, b) => assert(math.abs(a._3 - b._3) < 1e-9) }
    // matched-set aggregations: per-slice partials re-merged == monolithic
    val (cg, fedSig) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark", "--mode", "sigterms", "--k", "8", "--min-doc-count", "1")
    val (_, monoSig) = captured("search", "--index", m1,
      "--query", "spark", "--mode", "sigterms", "--k", "8", "--min-doc-count", "1")
    assert(cg == 0 && fedSig == monoSig, s"fed=$fedSig mono=$monoSig")
    val (cfc, fedFac) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join", "--mode", "facets", "--facet-field", "role")
    val (_, monoFac) = captured("search", "--index", m1,
      "--query", "spark join", "--mode", "facets", "--facet-field", "role")
    assert(cfc == 0 && fedFac == monoFac, s"fed=$fedFac mono=$monoFac")
    // federated more-like-this: the source doc is addressed by its stable
    // key values; term selection runs over the merged global df — same
    // docs, ranks, and scores as monolithic mlt of the doc's ordinal
    val (cml, fedMlt) = captured("search", "--index", s"$s1,$s2",
      "--query", "c1,0", "--mode", "mlt", "--k", "3")
    val (_, monoMlt) = captured("search", "--index", m1,
      "--query", "0", "--mode", "mlt", "--k", "3")
    val fm = fedMlt.drop(1).map { l => val f = l.split("\t"); (f(0), f(1), f(2).toDouble) }
    val mm = monoMlt.drop(1).map { l => val f = l.split("\t"); (f(2), f(3), f(1).toDouble) }
    assert(cml == 0 && fm.nonEmpty &&
      fm.map(t => (t._1, t._2)) == mm.map(t => (t._1, t._2)),
      s"fed=$fedMlt mono=$monoMlt")
    fm.zip(mm).foreach { case (a, b) => assert(math.abs(a._3 - b._3) < 1e-9) }
    // federated phrase-prefix: merged-vocabulary expansion, per-slice
    // positional plans — only c1/0 has spark immediately before a jo- term
    val (cpp, fedPp) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark jo", "--mode", "phrase-prefix")
    assert(cpp == 0 && fedPp.drop(1).length == 1, fedPp.mkString("\n"))
    // ranked/scored modes added in the symmetry sweep: tfidf and collapse
    // scores must equal the monolithic CLI float-exactly
    for (mode <- Seq("tfidf", "lm", "collapse")) {
      val (cx, fx) = captured("search", "--index", s"$s1,$s2",
        "--query", "spark join", "--mode", mode, "--k", "5",
        "--collapse-field", "conv_id")
      val (_, mx) = captured("search", "--index", m1,
        "--query", "spark join", "--mode", mode, "--k", "5",
        "--collapse-field", "conv_id")
      assert(cx == 0, fx.mkString("\n"))
      val fr = fx.drop(1).map { l => val f = l.split("\t"); (f(0), f(1), f(2).toDouble) }
      val mr = mx.drop(1).map { l => val f = l.split("\t"); (f(2), f(3), f(1).toDouble) }
      assert(fr.map(t => (t._1, t._2)) == mr.map(t => (t._1, t._2)),
        s"$mode fed=$fx mono=$mx")
      fr.zip(mr).foreach { case (a, b) => assert(math.abs(a._3 - b._3) < 1e-9) }
    }
    // unranked symmetry modes: msm quota and match-all row parity
    val (cmsm, fedMsm) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join table", "--mode", "msm", "--min-match", "2")
    val (_, monoMsm) = captured("search", "--index", m1,
      "--query", "spark join table", "--mode", "msm", "--min-match", "2")
    assert(cmsm == 0 && fedMsm.length == monoMsm.length,
      s"fed=$fedMsm mono=$monoMsm")
    val (call, fedAll) = captured("search", "--index", s"$s1,$s2",
      "--query", "x", "--mode", "all")
    assert(call == 0 && fedAll.drop(1).length == 4, fedAll.mkString("\n"))
    // the one mode without a federated plan is refused loudly
    assert(captured("search", "--index", s"$s1,$s2",
      "--query", "spark", "--mode", "context")._1 == 2)
  }

  test("phrase-prefix search mode completes the last token from the dictionary") {
    val m1 = s"$root/idx_mono" // shared with the federated test; build on demand
    if (!new java.io.File(m1).exists()) {
      assert(captured("build", "--input", s"$root/turns", "--index", m1,
        "--term-buckets", "2", "--write-groups", "1",
        "--block-size", "8", "--bucket-span", "64")._1 == 0)
    }
    // "spark jo" -> 'jo' expands to {join}: both "spark ... join table" docs
    // have spark immediately before join? c1/0 "spark join table" yes;
    // c2/1 "spark shuffle join table" no (shuffle intervenes) at slop 0
    val (c1, out1) = captured("search", "--index", m1,
      "--query", "spark jo", "--mode", "phrase-prefix")
    assert(c1 == 0 && out1.drop(1).length == 1, out1.mkString("\n"))
    val (c2, out2) = captured("search", "--index", m1,
      "--query", "spark jo", "--mode", "phrase-prefix", "--slop", "1")
    assert(c2 == 0 && out2.drop(1).length == 2, out2.mkString("\n"))
  }

  test("wildcard / regexp / range / rescore / termvectors / explain modes" +
      " through the CLI, monolithic and federated") {
    val (m1, s1, s2) = fedFixtures()
    // wildcard 'sp*k' and regexp match exactly the docs containing 'spark'
    val (cw, w) = captured("search", "--index", m1, "--query", "sp*k",
      "--mode", "wildcard")
    assert(cw == 0 && w.drop(1).length == 2, w.mkString("\n"))
    val (cr, rx) = captured("search", "--index", m1, "--query", "sp.rk|jo.n",
      "--mode", "regexp")
    assert(cr == 0 && rx.drop(1).length == 3, rx.mkString("\n"))
    // range [spark, spark] = the spark docs; open hi end reaches tuning
    val (cg, rg) = captured("search", "--index", m1, "--query", "spark,spark",
      "--mode", "range")
    assert(cg == 0 && rg.drop(1).length == 2, rg.mkString("\n"))
    val (cg2, rg2) = captured("search", "--index", m1, "--query", "spark,",
      "--mode", "range")
    assert(cg2 == 0 && rg2.drop(1).length == 4, rg2.mkString("\n"))
    // rescore: 'join table' phrase boosts c1/0 over the shuffle doc
    val (cs, rs) = captured("search", "--index", m1, "--query", "spark",
      "--mode", "rescore", "--rescore-phrase", "join table",
      "--window-size", "10", "--rescore-weight", "2.0")
    assert(cs == 0 && rs.drop(1).nonEmpty, rs.mkString("\n"))
    assert(rs(1).split("\t")(0) == "0", rs.mkString("\n")) // doc_ord 0 first
    // termvectors of doc 0: its three terms with tf 1 and one position each
    val (ct, tv) = captured("search", "--index", m1, "--query", "0",
      "--mode", "termvectors")
    assert(ct == 0 && tv.drop(1).map(_.split("\t")(0)).toSet ==
      Set("spark", "join", "table"), tv.mkString("\n"))
    // explain sums to the doc's BM25 contribution rows
    val (ce, ex) = captured("search", "--index", m1, "--query", "spark join",
      "--mode", "explain", "--doc", "0")
    assert(ce == 0 && ex.drop(1).map(_.split("\t")(0)).toSet ==
      Set("spark", "join"), ex.mkString("\n"))
    // federated twins: key-addressed termvectors/explain == monolithic
    val (cft, ftv) = captured("search", "--index", s"$s1,$s2",
      "--query", "c1,0", "--mode", "termvectors")
    assert(cft == 0 && ftv == tv, s"fed=$ftv mono=$tv")
    val (cfe, fex) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join", "--mode", "explain", "--doc", "c1,0")
    assert(cfe == 0 && fex == ex, s"fed=$fex mono=$ex")
    val (cfw, fw) = captured("search", "--index", s"$s1,$s2",
      "--query", "sp*k", "--mode", "wildcard")
    assert(cfw == 0 && fw.drop(1).length == 2, fw.mkString("\n"))
    val (cfr, fr2) = captured("search", "--index", s"$s1,$s2", "--query",
      "spark", "--mode", "rescore", "--rescore-phrase", "join table",
      "--window-size", "10", "--rescore-weight", "2.0")
    assert(cfr == 0 && fr2.drop(1).nonEmpty, fr2.mkString("\n"))
    // same ranking and scores as the monolithic rescore (key vs ordinal id)
    val fedScores = fr2.drop(1).map { l => val f = l.split("\t")
      ((f(0), f(1)), f(2).toDouble) }
    val monoScores = rs.drop(1).map { l => val f = l.split("\t")
      ((f(2), f(3)), f(1).toDouble) }
    assert(fedScores.map(_._1) == monoScores.map(_._1),
      s"fed=$fr2 mono=$rs")
    fedScores.zip(monoScores).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) < 1e-9) }
    // highlight + snippet table modes: per-document reads union losslessly
    val (ch, hl) = captured("search", "--index", m1,
      "--query", "spark join", "--mode", "highlight")
    assert(ch == 0 && hl.drop(1).length == 3, hl.mkString("\n"))
    val (cfh, fhl) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark join", "--mode", "highlight")
    assert(cfh == 0 && fhl.drop(1).map(_.split("\t").last).sorted.toSeq ==
      hl.drop(1).map(_.split("\t").last).sorted.toSeq, s"fed=$fhl mono=$hl")
    val (cn, sn) = captured("search", "--index", m1,
      "--query", "shuffle", "--mode", "snippet", "--window", "1")
    assert(cn == 0 && sn.drop(1).length == 2, sn.mkString("\n"))
    val (cfn, fsn) = captured("search", "--index", s"$s1,$s2",
      "--query", "shuffle", "--mode", "snippet", "--window", "1")
    assert(cfn == 0 && fsn.drop(1).map(_.split("\t").last).sorted.toSeq ==
      sn.drop(1).map(_.split("\t").last).sorted.toSeq, s"fed=$fsn mono=$sn")
  }

  test("every doc-row search mode: a federation == the monolithic index") {
    val (m1, s1, s2) = fedFixtures()
    // query text per mode where "spark join" would not exercise it
    val queries = Map("phrase" -> "join table", "phrase-prefix" -> "spark jo",
      "qs" -> "join AND NOT broadcast", "qs-ranked" -> "join -broadcast",
      "prefix" -> "sh", "fuzzy" -> "spork", "wildcard" -> "sp*k",
      "regexp" -> "sp.rk|jo.n", "range" -> "join,spark")
    val docModes = Main.searchModes.filter(_._2.docRows)
    assert(Set("bm25", "tfidf", "wand", "mlt").subsetOf(docModes.keySet))
    for ((name, mode) <- docModes) {
      // (conv_id, turn_idx) and score of each printed row, in order
      def rows(index: String, doc: String): Seq[((String, String), Double)] = {
        val query = if (name == "mlt") doc else queries.getOrElse(name, "spark join")
        val (code, out) = captured("search", "--index", index, "--query", query,
          "--mode", name, "--k", "5", "--rescore-phrase", "join table")
        assert(code == 0, s"$name: ${out.mkString("\n")}")
        val header = out.head.split("\t").toSeq
        out.tail.map { l =>
          val f = l.split("\t", -1)
          ((f(header.indexOf("conv_id")), f(header.indexOf("turn_idx"))),
            if (mode.ranked) f(header.indexOf("score")).toDouble else 0.0)
        }
      }
      val mono = rows(m1, "0")
      val fed = rows(s"$s1,$s2", "c1,0")
      assert(mono.nonEmpty, s"$name returned no rows")
      assert(fed.map(_._1) == mono.map(_._1), s"$name: fed=$fed mono=$mono")
      fed.zip(mono).foreach { case (f, m) => assert(math.abs(f._2 - m._2) < 1e-9, name) }
    }
    val (code, out) = captured("search", "--index", s"$s1,$s2",
      "--query", "spark", "--mode", "context")
    assert(code == 2 && out.head.contains("mode 'context' is not federated"),
      out.mkString("\n"))
  }
}
