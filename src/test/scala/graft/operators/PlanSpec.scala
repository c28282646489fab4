package graft.operators

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, SparkEntry}

/** Physical-plan audits — the 100 TB design contract, machine-checked:
  * filters reach the parquet scan, projections prune the read schema,
  * fixed-size dimensions broadcast, top-k never globally sorts, and no
  * query degenerates into an unbucketed cartesian product. A regression
  * here is invisible to the correctness oracle (same rows, catastrophic
  * plan) — exactly the class of bug a plan spec exists to catch. */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The FINAL adaptive plan — executes the query so AQE applies runtime
    * exchange reuse, then keeps only the "== Final Plan ==" section (the
    * toString also re-prints the pre-reuse initial plan below it). The
    * final plan is the only honest place to count per-row kernel evals in
    * a self-join: the two canonically-equal sides collapse to one map
    * stage + a ReusedExchange only at execution time. */
  private def finalPlan(df: DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Run `body` with auto-broadcast off, giving small-SF plans the
    * shuffle-join shape they would have at 100 TB — AQE broadcasts a tiny
    * self-join side, and a broadcast BUILD side genuinely re-evaluates its
    * projection, which is fine at sf0.001 but not the shape to audit. */
  private def atScaleShape[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  /** Occurrences of `kernel(` on Filter operator lines — the r4 bug shape:
    * an inferred isnotnull join-key constraint pushed below the defining
    * Project re-inlines the whole kernel subtree into per-branch Filters. */
  private def kernelInFilters(p: String, kernel: String): Int =
    p.linesIterator.filter(_.contains("Filter"))
      .map(l => s"$kernel\\(".r.findAllIn(l).length).sum

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)

  test("q02: predicates are pushed to the parquet scan, schema is pruned") {
    val p = plan(q("q02_filter_project"))
    assert(p.contains("PushedFilters:"), "no pushdown section in scan")
    assert(p.contains("l_shipdate"), "shipdate filter not near scan")
    assert(p.replaceAll("\\s", "").contains("IsNotNull(l_returnflag)")
      || p.contains("EqualTo(l_returnflag,R)"), s"returnflag not pushed:\n$p")
    // pruned read: the 11-column lineitem scan should read only the 6
    // referenced columns
    assert(!p.contains("l_comment") && !p.contains("l_tax,"),
      "scan reads unprojected columns")
  }

  test("q03: fixed-size dims broadcast; no cartesian product") {
    val p = plan(q("q03_revenue_by_nation"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "nation/region dimension joins should broadcast")
    assert(!p.contains("CartesianProduct"), "unexpected cartesian product")
  }

  test("q30: top-k compiles to TakeOrderedAndProject, not global sort") {
    val p = plan(q("q30_top_orders"))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q01: aggregation is partial (map-side combine before the shuffle)") {
    val p = plan(q("q01_pricing_summary"))
    assert(p.contains("partial_"), "no partial aggregation phase")
    // (WholeStageCodegen spans are inserted post-AQE and don't appear in
    // the initial executedPlan string, so codegen isn't asserted here)
  }

  test("q18: candidate generation joins on band buckets, never all-pairs") {
    val p = plan(q("q18_minhash_neardup"))
    assert(!p.contains("CartesianProduct"),
      "LSH candidate join degenerated to all-pairs")
    assert(p.contains("band"), "bucket join key missing from plan")
  }

  test("q68: prefix index joins stay equi-joins on the token at scale") {
    // At 100 TB no side of the prefix self-join broadcasts; the candidate
    // join must be a sort-merge equi-join ON THE TOKEN with the tau-length
    // filter as a residual — never a nested loop over length ranges.
    val p = atScaleShape { plan(q("q68_prefix_jaccard")) }
    assert(p.contains("SortMergeJoin [t#") || p.contains("SortMergeJoin[t#"),
      s"candidate join is not a token equi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "prefix join degenerated to all-pairs")
    // the self-join's doc_id < doc_id is a residual of the token join, so
    // self and mirrored pairs never reach the min-slack aggregate
    val residual = "SortMergeJoin ?\\[t#.*doc_id#\\d+L? < doc_id#\\d+".r
    assert(p.linesIterator.exists(residual.findFirstIn(_).isDefined),
      s"doc_id < doc_id is not in the token join's condition:\n$p")
    // the prefix cut exists (rank over (df, t) per doc)
    assert(p.contains("row_number"), "prefix window missing")
    // the registered query stages the shingled frame ONCE (r21, guide §5:
    // three references each re-ran tokenize+shingle); the staged plan
    // reads the checkpoint, so scan pruning is audited on the UNSTAGED
    // core below
    val pu = atScaleShape { plan(Documents.prefixJaccardPairs(
      Documents.shingleDocs(graft.Tables.documents(spark, sfDir)))) }
    // df count reads only the text column
    assert(pu.contains("ReadSchema: struct<text:string>"),
      "df-count scan is not column-pruned")
  }

  test("q23: the intended cross join broadcasts the small query side") {
    val p = plan(q("q23_cosine_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query-vector side should broadcast:\n$p")
  }

  test("similarity broadcasts only the fixed literal query-ID set") {
    // round-2 verdict: broadcasting a corpus-derived frame (vec_id % 50)
    // is scale-proportional — ~10 GB at a 1e9-row corpus. The query set
    // must be a literal ID list, visible in the plan as an In/InSet filter
    // feeding the broadcast side.
    Seq("q23_cosine_topk", "q24_ivf_topk", "q38_ivf_centroids").foreach {
      name =>
        val p = plan(q(name)).replaceAll("\\s", "")
        assert(p.contains("BroadcastExchange"),
          s"$name: the fixed-size query side should broadcast")
        assert(p.contains("In(vec_id") || p.contains("INSET"),
          s"$name: broadcast side must be the literal query-ID set, " +
            "not a corpus-proportional filter")
    }
  }

  test("q54: Hamming candidates join on simhash chunks, never all-pairs") {
    val p = plan(q("q54_simhash_neardup"))
    assert(!p.contains("CartesianProduct"),
      "chunk-bucket candidate join degenerated to all-pairs")
    assert(p.contains("band"), "chunk join key missing from plan")
  }

  test("q16: the regex split is evaluated at most twice (pushed filter + project)") {
    // r3 verdict "What's wrong" #2: the filter-between-two-projects shape
    // re-ran split(text) up to 4×/row once pushdown substituted the alias.
    // The single-select + derived-column-filter shape pins it at ≤2: one
    // eval in the pushed-down row filter (early pruning), one in the
    // project whose `words` attribute all three output columns share.
    // the FileScan line re-lists the Filter's DataFilters textually — not
    // an extra evaluation — so count only operator (Filter/Project) lines
    val p = plan(q("q16_arity_filter"))
      .linesIterator.filterNot(_.contains("FileScan")).mkString("\n")
    val n = "split\\(text".r.findAllIn(p).length
    assert(n <= 2 && n >= 1, s"q16 evaluates the split $n times:\n$p")
  }

  test("q52: trigrams come from the native kernel, evaluated once") {
    val p = plan(q("q52_char_ngram_langid"))
    val n = "char_ngrams\\(".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one native char_ngrams eval, got $n:\n$p")
    assert(!p.contains("transform(sequence"),
      "q52 regressed to the interpreted per-position HOF trigram lambda")
  }

  test("q35: one fused sign_sketch_bands eval per corpus row at the at-scale shape") {
    // Three contracts, each a real regression caught in r2-r5:
    //  (a) the sketch is the ONE fused generator kernel, not 80 per-bit
    //      dot products (the unfused form's planning + codegen compile
    //      alone cost ~1.2 s/run) and not a sketch column + long_chunks
    //      (whose nullable sketch attribute was the (b) bait);
    //  (b) the kernel never re-inlines into Filters (r4: a nullable sketch
    //      attribute let InferFiltersFromConstraints push
    //      isnotnull(sign_sketch(...)) below the Project — 2-3 evals/row);
    //  (c) at the shuffle-join shape the self-join's second side is a
    //      ReusedExchange, so the map stage computing the sketch runs ONCE.
    // Counted on the FINAL adaptive plan: 2 Generate occurrences = one per
    // union branch over disjoint rows = 1 eval per corpus row.
    atScaleShape {
      val p = finalPlan(q("q35_cosine_neardup"))
      assert(kernelInFilters(p, "sign_sketch_bands") == 0,
        s"sign_sketch_bands re-inlined into a Filter (constraint pushdown):\n$p")
      assert(p.contains("ReusedExchange"),
        s"self-join side not reused — sketch map stage runs twice:\n$p")
      val sketches = "sign_sketch_bands\\(".r.findAllIn(p).length
      assert(sketches <= 2, // one per union branch, disjoint rows
        s"expected <=2 sign_sketch_bands evals (1 per corpus row), got $sketches:\n$p")
      val dots = "dot_product\\(".r.findAllIn(p).length
      assert(dots <= 6, // norm + verify dots only, never the 80-dot sketch
        s"q35 regressed toward per-bit hyperplane dots ($dots dot_products):\n$p")
    }
  }

  test("q54: one simhash128_bands eval per corpus row at the at-scale shape") {
    // same three contracts as q35 (see above) — r4's failure here was 12
    // plan occurrences: Project + a pushed isnotnull Filter on each side
    // of the self-join x the 2-branch variant-corpus union
    atScaleShape {
      val p = finalPlan(q("q54_simhash_neardup"))
      assert(kernelInFilters(p, "simhash128_bands") == 0,
        s"simhash128_bands re-inlined into a Filter (constraint pushdown):\n$p")
      assert(p.contains("ReusedExchange"),
        s"self-join side not reused — simhash map stage runs twice:\n$p")
      val n = "simhash128_bands\\(".r.findAllIn(p).length
      assert(n <= 2, // one per union branch, disjoint rows
        s"expected <=2 simhash128_bands evals (1 per corpus row), got $n:\n$p")
    }
  }

  test("q62: bucket join on sign chunks; kernel only in Generates; top-k group-limited") {
    val p = plan(q("q62_lsh_topk"))
    assert(!p.contains("CartesianProduct"),
      s"LSH search degenerated to all-pairs:\n$p")
    assert(kernelInFilters(p, "sign_sketch_bands") == 0,
      s"sketch kernel re-inlined into a Filter:\n$p")
    // exactly 2 kernel evals: one Generate per side (corpus + query set)
    val n = "sign_sketch_bands\\(".r.findAllIn(p).length
    assert(n == 2, s"expected 2 sign_sketch_bands Generates, got $n:\n$p")
    // the query side is the literal bounded ID set, pruned at the scan
    assert(p.contains("In(vec_id") || p.contains("INSET"),
      s"query-side scan not pruned to the literal ID set:\n$p")
    // rank<=k is pushed into the window (no full per-partition sort spill)
    assert(p.contains("WindowGroupLimit"),
      s"top-k not group-limited before the window:\n$p")
  }

  test("q60: the range join is a hash equi-join on bins, never a nested loop") {
    // BETWEEN is a theta predicate: Spark's direct plans are
    // BroadcastNestedLoopJoin (O(N·W) compares) or CartesianProduct. The
    // binned rewrite must keep it an equi-join — at the at-scale shape
    // (no auto-broadcast) that means a shuffled hash/sort-merge join on
    // the bin key, the plan that co-partitions both sides at any scale.
    atScaleShape {
      val p = plan(q("q60_range_join"))
      assert(!p.contains("CartesianProduct"),
        s"range join degenerated to a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"range join fell back to a nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on the bin key:\n$p")
      assert(p.contains("bin"), s"bin join key missing from plan:\n$p")
    }
  }

  test("q20: the normalize+split and the punct regex evaluate once each") {
    // r5: words is staged as a multi-use column; the inline form re-ran
    // the normalize+split once per referencing output column (3x/row) and
    // paid a second punct regex inside n_tokens
    val p = plan(q("q20_text_stats"))
      .linesIterator.filterNot(_.contains("FileScan")).mkString("\n")
    val splits = "split\\(".r.findAllIn(p).length
    assert(splits == 1, s"q20 evaluates split $splits times:\n$p")
    // 2 total: the normalize regex inside the one split + the punct scan
    val regexes = "regexp_replace\\(".r.findAllIn(p).length
    assert(regexes <= 2, s"q20 runs $regexes regexp_replace evals:\n$p")
  }

  test("q18: one minhash_bands eval per doc at the at-scale shape") {
    // same contract family as q35/q54 (r4 verdict #8): the signature
    // kernel must never re-inline into a Filter via inferred isnotnull
    // join-key constraints, and the band self-join's second side must
    // collapse to a ReusedExchange so the signature map stage runs once.
    // (shingles_ngram legitimately appears again in the verify stage —
    // recompute-for-candidates-only beats caching full shingle arrays —
    // so only the banding kernel is pinned here.)
    atScaleShape {
      val p = finalPlan(q("q18_minhash_neardup"))
      assert(kernelInFilters(p, "minhash_bands") == 0,
        s"minhash_bands re-inlined into a Filter (constraint pushdown):\n$p")
      assert(p.contains("ReusedExchange"),
        s"band self-join side not reused — signature map stage runs twice:\n$p")
      val n = "minhash_bands\\(".r.findAllIn(p).length
      assert(n <= 1, s"expected <=1 minhash_bands eval, got $n:\n$p")
    }
  }

  test("q19: simhash60 evaluates exactly once, never in a Filter") {
    val p = plan(q("q19_simhash"))
    assert(kernelInFilters(p, "simhash60") == 0,
      s"simhash60 re-inlined into a Filter:\n$p")
    val n = "simhash60\\(".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one simhash60 eval, got $n:\n$p")
  }

  test("q56/q57: media decode is one mapPartitions stage; binary never shuffles") {
    Seq("q56_media_resize", "q57_frame_sample").foreach { name =>
      // unwrap AQE: AdaptiveSparkPlanExec is a leaf to collect(), the real
      // tree hangs off its executedPlan
      val planTree = q(name).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val mps = planTree.collect {
        case p if p.nodeName.contains("MapPartitions") => p }
      assert(mps.length == 1,
        s"$name: expected exactly one MapPartitions stage, got ${mps.length}")
      val shufflesBelow = mps.head.collect {
        case e if e.nodeName.contains("Exchange") => e }
      assert(shufflesBelow.isEmpty,
        s"$name: an Exchange below the decode would shuffle the binary payload")
    }
  }

  test("q66: bucketed fact⋈fact join plans zero hash Exchange and rides " +
       "bucket order into the aggregate") {
    // the registered query's whole point: both scans emit bucketed,
    // key-sorted rows, so neither the SMJ nor the per-order aggregate
    // shuffles — the only Exchange left is the final ORDER BY's range
    // partitioning. Broadcast disabled so the assertion is about
    // co-location, not the small-SF broadcast fallback.
    atScaleShape {
      val p = plan(q("q66_bucketed_join"))
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join/aggregate still hash-shuffles:\n$p")
    }
  }

  test("q63's CC loop: the loop re-plans from a localCheckpoint scan each " +
       "round (bounded lineage)") {
    import spark.implicits._
    // a 5-node chain forces ~5 min-propagation rounds; without the
    // per-round eager localCheckpoint the returned frame's plan would
    // nest one join+aggregate layer PER ROUND (the exponential-lineage
    // trap documented in Documents.connectedComponents — here
    // machine-pinned: the final labels must be a bare checkpoint scan,
    // which is also exactly what every round's NEXT iteration reads)
    val nodes = (0L to 4L).toDF("doc_id")
    val pairs = (0L until 4L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Documents.connectedComponents(nodes, pairs)
    val tree = labels.queryExecution.executedPlan
    val size = tree.collect { case n => n }.length
    assert(size <= 4,
      s"CC result plan has $size nodes — per-round lineage not truncated:\n$tree")
    assert(tree.toString.contains("ExistingRDD"),
      s"CC result is not a checkpoint scan:\n$tree")
  }

  test("q65: the outer interval join extracts the user equi-key (SMJ, " +
       "never a nested loop)") {
    atScaleShape {
      val p = plan(q("q65_interval_join_outer"))
      assert(!p.contains("BroadcastNestedLoopJoin") &&
             !p.contains("CartesianProduct"),
        s"interval join lost its equi component:\n$p")
      // toString format: "SortMergeJoin [lkeys], [rkeys], LeftOuter, cond"
      assert((p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"))
             && p.contains("LeftOuter"),
        s"expected a shuffled left-outer equi-join on user_id:\n$p")
    }
  }

  test("q67: generate and decode are back-to-back MapPartitions; GIF bytes " +
       "never shuffle; the key spread sits below the generate") {
    val planTree = q("q67_gif_frames").queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val mps = planTree.collect {
      case p if p.nodeName.contains("MapPartitions") => p }
    assert(mps.length == 2,
      s"expected generate+decode MapPartitions stages, got ${mps.length}")
    // the GIF payloads must be born and consumed map-side: no Exchange
    // BETWEEN the decode (top) and the generate — every Exchange in the
    // decode's subtree must already be in the generate's subtree
    val decodeEx = mps.head.collect {
      case e if e.nodeName.contains("Exchange") => e }
    val genEx = mps(1).collect {
      case e if e.nodeName.contains("Exchange") => e }
    assert(decodeEx.forall(e => genEx.exists(_ eq e)),
      s"an Exchange between generate and decode would shuffle GIF payloads")
    // and the key-spreading Exchange BELOW the generate must exist and
    // carry ONLY doc_id — the fix for the scan's IO-sized partitioning
    // strangling the CPU-heavy codec chain (measured 10.3 s → 1.3 s at
    // sf1); if it ever starts carrying more columns, payload bytes are
    // leaking into the shuffle
    assert(genEx.nonEmpty,
      "the generate stage inherits IO-sized scan partitioning — the " +
        "doc_id spread Exchange is missing")
    genEx.foreach { e =>
      assert(e.output.map(_.name) == Seq("doc_id"),
        s"key-spread Exchange carries ${e.output.map(_.name)} — only " +
          s"doc_id may shuffle")
    }
  }

  test("q69: the benchmark gram dictionary broadcasts; corpus grams never " +
       "shuffle") {
    // the decontamination contract at 100 TB: the eval suite is tiny by
    // nature, so its grams ship to every executor and the corpus side of
    // the containment join never exchanges on the gram — the only shuffle
    // is the per-doc count-distinct aggregate (which Expand+partial-aggs).
    val p = plan(q("q69_decontaminate"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"benchmark gram side should broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning(gram"),
      s"corpus grams shuffled — the containment join must ship the " +
        s"dictionary, not the corpus:\n$p")
    assert(p.contains("partial_"),
      s"contamination counts lost map-side combine:\n$p")
  }

  test("q70: token counts partial-agg before any shuffle; N crosses in as " +
       "a one-row broadcast") {
    // tf's map-side combine is what eats the token explosion — without it
    // every (doc, token) row shuffles; N (corpus doc count) must join in
    // as a broadcast of ONE aggregated row, the only nested-loop join
    // allowed anywhere in the surface (bounded by construction).
    val p = plan(q("q70_tfidf_keywords"))
    assert(p.contains("partial_count"),
      s"tf aggregate lost map-side combine — raw tokens would shuffle:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"n_docs should cross in as a single-row broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"top-5 not group-limited before the rank window:\n$p")
  }

  test("q71: packing is ONE window shuffle; the shard aggregate reuses the " +
       "source partitioning") {
    // the cumulative-offset window exchanges on source once; the
    // (source, bin) aggregate's clustering is satisfied by that same
    // partitioning (source ⊆ keys), so no second hash Exchange may
    // appear — at 100 TB a second full-data shuffle here would double
    // the cost of the whole operator.
    atScaleShape {
      val p = plan(q("q71_sequence_pack"))
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 1,
        s"expected exactly one hash Exchange (the source window), got $n:\n$p")
    }
  }

  test("q72: the mix is map-only — copies fan out at scan site, zero hash " +
       "Exchange") {
    // upsampling must never materialize copies through a shuffle; the
    // explode happens where the scan happens, and the only Exchange in
    // the plan is the presentation ORDER BY's range partitioning.
    val p = plan(q("q72_source_mix"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"the weighted mix shuffled — copies must fan out map-side:\n$p")
    assert(p.contains("Generate explode"),
      s"copy fan-out (explode over sequence) missing from plan:\n$p")
  }

  test("q73: the bloom probe filters the fact side BELOW the exact join's " +
       "shuffle") {
    // the runtime-filter contract: at the at-scale shape the exact join
    // exchanges on l_orderkey, and the probe Filter must sit INSIDE that
    // exchange's subtree — a probe above the shuffle would pay the full
    // fact shuffle and reduce nothing.
    atScaleShape {
      val df = q("q73_bloom_join")
      val p = plan(df)
      // the crossJoin+filter is folded into the BNLJ's join CONDITION —
      // same evaluation point as a Filter directly above it; accept both
      val probeLines = p.linesIterator.filter(l =>
        l.contains("bloom_might_contain(") &&
        (l.contains("Filter") || l.contains("BroadcastNestedLoopJoin")))
      assert(probeLines.nonEmpty,
        s"bloom probe is neither a Filter nor the BNLJ condition:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"exact join should shuffle at the at-scale shape:\n$p")
      val tree = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case t => t
      }
      val exchanges = tree.collect {
        case e if e.nodeName.contains("Exchange") &&
                  e.toString.contains("bloom_might_contain") => e }
      assert(exchanges.nonEmpty,
        s"no Exchange has the bloom probe below it — the filter does not " +
          s"reduce the shuffle:\n$tree")
    }
  }

  test("q74: the curve-cell rollup is map-only until one tiny partial-agg " +
       "shuffle") {
    // the z assignment is pure per-row bit arithmetic — it must all fold
    // into the scan-side Project; the only hash Exchange is the 256-cell
    // aggregate (partial-agg'd, so the shuffle carries cells, not rows)
    val p = plan(q("q74_zorder_cells"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash Exchange, got $n:\n$p")
    assert(p.contains("partial_"), s"cell rollup lost map-side combine:\n$p")
  }

  test("q76: chunking is map-only — the fan-out happens at scan site, " +
       "zero hash Exchange") {
    // same contract as q72: the chunk explosion must never ride a
    // shuffle; the only Exchange is the presentation ORDER BY's range
    // partitioning
    val p = plan(q("q76_doc_chunks"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunk fan-out shuffled — chunks must be born map-side:\n$p")
    assert(p.contains("Generate explode"),
      s"chunk-index explode missing from plan:\n$p")
  }

  test("q77: chunk dedup shuffles longs exactly twice (fp election, doc " +
       "rollup) — never chunk text") {
    // winner election windows on the 60-bit fingerprint, the per-doc
    // rollup regroups on doc_id: two hash Exchanges total, both carrying
    // (doc_id, chunk_idx, fp) longs. A third Exchange — or the staged
    // words column surviving into either — would mean chunk text is
    // riding a shuffle.
    atScaleShape {
      val p = plan(q("q77_chunk_dedup"))
      val n = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(n == 2, s"expected exactly two hash Exchanges, got $n:\n$p")
      assert(p.contains("row_number"), s"fp winner election missing:\n$p")
    }
  }

  test("q78: RAG retrieval is a band-bucket join — kernel in Generates only, " +
       "never all-pairs, top-k per query group-limited") {
    // the composition contract (chunks → sign-sketch → LSH buckets →
    // Hamming rerank): candidates come from the (band, bh) equi-join, so
    // a CartesianProduct means the index degenerated to all-pairs; the
    // simhash kernel must run at the two Generate sites (query side +
    // index side) and never re-inline into a Filter (the r4 bait — q54/
    // q62's contract, inherited by composition).
    atScaleShape {
      val p = plan(q("q78_rag_chunk_topk"))
      assert(!p.contains("CartesianProduct"),
        s"RAG retrieval degenerated to all-pairs:\n$p")
      assert(kernelInFilters(p, "simhash128_bands") == 0,
        s"sketch kernel re-inlined into a Filter:\n$p")
      val n = "simhash128_bands\\(".r.findAllIn(p).length
      assert(n <= 2,
        s"expected <=2 simhash128_bands evals (query + index side), got $n:\n$p")
      assert(p.contains("band"), s"band bucket key missing from the join:\n$p")
    }
  }

  test("q79: the incremental candidate join stays a token equi-join at " +
       "scale — R and S meet only through the prefix index") {
    // q68's contract, inherited by the R-S form: at 100 TB neither side's
    // prefix index broadcasts; candidates must come from a sort-merge
    // equi-join ON THE TOKEN with the tau-length bounds as residual —
    // never a nested loop over the length ranges.
    val p = atScaleShape { plan(q("q79_incremental_neardup")) }
    assert(p.contains("SortMergeJoin [t#") || p.contains("SortMergeJoin[t#"),
      s"candidate join is not a token equi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "R-S prefix join degenerated to all-pairs")
  }

  test("q82: the probe reads the MATERIALIZED corpus index from the " +
       "warehouse — no corpus-side prefix rebuild in the candidate join") {
    // the amortization contract: the corpus's dictionary and prefix rows
    // are warehouse parquet (built once per sf dir), so the per-batch
    // plan scans them instead of re-ranking the corpus; candidates stay
    // a token equi-join as in q79.
    val p = atScaleShape { plan(q("q82_incremental_indexed")) }
    assert(p.contains("graft_pfx_idx"),
      s"corpus prefix rows not read from the warehouse index:\n$p")
    assert(p.contains("graft_pfx_dict"),
      s"probe ranking not under the frozen dictionary:\n$p")
    assert(p.contains("SortMergeJoin [t#") || p.contains("SortMergeJoin[t#"),
      s"candidate join is not a token equi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      "indexed probe degenerated to all-pairs")
  }

  test("q86: the probe reads the MATERIALIZED centroid model — the " +
       "corpus×dim training posexplode is gone from the steady state") {
    val p = atScaleShape { plan(q("q86_ivf_indexed")) }
    assert(p.contains("graft_ivf_cents"),
      s"centroids not read from the warehouse model:\n$p")
    assert(!p.toLowerCase.contains("posexplode"),
      s"probe plan still trains (posexplode present):\n$p")
  }

  test("q97: the touch-count window and both rollups ride the join's " +
       "user_id partitioning — no exchange between join and output sort") {
    val p = atScaleShape { plan(q("q97_multitouch_attribution")) }
    assert(p.contains("SortMergeJoin"),
      s"pair join is not the equi+residual sort-merge shape:\n$p")
    // exchanges: one per join input + the final sort's range exchange —
    // the per-purchase window (user_id, purchase_id) and the per-click
    // rollup (user_id, click_id) must be satisfied by the join's
    // HashPartitioning(user_id), adding NONE
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")
        && !l.contains("ReusedExchange"))
    assert(shuffles === 3,
      s"expected 3 exchanges (2 join inputs + output sort), got $shuffles:\n$p")
  }

  test("q99: the search probe reads the MATERIALIZED posting index — term " +
       "filter pushed to the scan, no tokenize explode, top-k heap-merged") {
    val p = atScaleShape { plan(q("q99_keyword_search")) }
    // r12: the index resolves through the Manifest snapshot — the scan
    // reads under the search root (explain truncates the full path; the
    // pinned generation + manifest are asserted on the filesystem)
    assert(p.contains("graft_search_"),
      s"postings not read from the manifest's search root:\n$p")
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val searchRoot = wh.listFiles.filter(_.getName.startsWith("graft_search_"))
    assert(searchRoot.nonEmpty, s"no search root under $wh")
    val members = searchRoot.head.listFiles.map(_.getName).toSet
    // r14: pre-r13 roots carried a root-level MANIFEST file; the immutable
    // layout keeps numbered files under _manifests — assert the CURRENT
    // layout (the old assertion only passed against stale warehouse state)
    assert(members.contains("_manifests") && members.contains("postings") &&
           members.contains("corpus"),
      s"search root lacks manifest members: $members")
    assert(new java.io.File(searchRoot.head, "postings/gen-1").isDirectory,
      "postings generation dir missing")
    assert(!p.contains("Generate"),
      s"tokenization explode leaked into the probe plan:\n$p")
    assert(p.replaceAll("\\s", "").contains("In(term,"),
      s"probe-term filter not pushed to the index scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 is not a per-partition heap merge:\n$p")
  }

  test("q122: the BM25 probe is join-free on the row side — denormalized " +
       "index scan with the term filter pushed down, df/stats broadcast, " +
       "top-k heap-merged") {
    val p = atScaleShape { plan(q("q122_bm25_search")) }
    assert(p.contains("graft_search_"),
      s"BM25 index not read from the manifest's search root:\n$p")
    assert(!p.contains("Generate"),
      s"tokenization explode leaked into the probe plan:\n$p")
    assert(p.replaceAll("\\s", "").contains("In(term,"),
      s"probe-term filter not pushed to the index scan:\n$p")
    // dl rides the index rows: the only joins are the 3-row df dim and
    // the 1-row stats dim, both broadcast — a shuffled join would mean
    // the probe re-joins doc lengths at query time
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"BM25 probe shuffles a join side:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 is not a per-partition heap merge:\n$p")
  }

  test("q133: the lexical arm's df comes from the MATERIALIZED per-term " +
       "ledger, not a corpus-proportional (term, doc) distinct at probe " +
       "time (VERDICT r17 item 1)") {
    // explain truncates scan locations, so collect the scan roots from
    // the optimized plan instead of grepping the plan string
    val scanRoots = atScaleShape {
      q("q133_hybrid_rrf").queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case h: org.apache.spark.sql.execution.datasources
                .HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Seq.empty[String]
          }
      }.flatten
    }
    assert(scanRoots.exists(_.contains("/bm25df/")),
      s"df not read from the bm25df artifact; scans: $scanRoots")
    // the member must exist under the shared search root as its own
    // manifest-published generation
    val wh = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val searchRoots = wh.listFiles
      .filter(_.getName.startsWith("graft_search_"))
    assert(searchRoots.nonEmpty, s"no search root under $wh")
    // several roots can coexist (one per dataset tag the suite touched);
    // the one this query probed must carry a published df generation
    assert(searchRoots.exists { r =>
      val m = new java.io.File(r, "bm25df")
      m.isDirectory && m.listFiles.exists(g =>
        g.getName.startsWith("gen-") && g.isDirectory)
    }, s"no search root carries a bm25df generation: " +
       s"${searchRoots.map(_.getName).mkString(", ")}")
  }

  test("q87: batch scoring reads the FROZEN warehouse LM through broadcast " +
       "joins — no corpus-side count shuffle in the steady state") {
    val p = atScaleShape { plan(q("q87_lm_indexed")) }
    assert(p.contains("graft_lm_bg") && p.contains("graft_lm_ctx"),
      s"model not read from the warehouse:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"frozen-LM scoring join shuffles the batch bigram side:\n$p")
    // the only documents scan in the probe plan is the INCOMING batch;
    // a corpus-side count aggregate would surface as a TakeOrdered cap
    assert(!p.contains("TakeOrderedAndProject"),
      s"steady-state plan still builds the model:\n$p")
  }

  test("q134: batch scoring reads the FROZEN warehouse classifier " +
       "through a broadcast join — one wide exchange, no training " +
       "shuffle in the steady state") {
    val p = atScaleShape { plan(q("q134_nb_classifier")) }
    assert(p.contains("graft_nb_"),
      s"model not read from the warehouse:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"frozen-classifier scoring join shuffles the word side:\n$p")
    // a corpus-side training aggregate would surface as the top-K cap
    assert(!p.contains("TakeOrderedAndProject"),
      s"steady-state plan still trains the model:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash Exchange (per-doc agg), " +
      s"got $n:\n$p")
  }

  test("q80: the canonical election is one window over the cluster label") {
    // the quality election must not plan a per-cluster self-join: the
    // canonical id rides the SAME window shuffle that sorts the family
    // (first_value over cluster_rep), so beyond q63's CC machinery the
    // composition adds exactly one Window, keyed on cluster_rep.
    val p = atScaleShape { plan(q("q80_quality_canonical")) }
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"expected exactly one election Window, got $windows:\n$p")
    assert(p.contains("windowspecdefinition(cluster_rep"),
      s"election window not keyed on the cluster label:\n$p")
  }

  test("q81: the metadata filter lands on the documents SCAN, below any " +
       "vector math — pre-filtering, column-pruned") {
    val p = atScaleShape { plan(q("q81_filtered_topk")) }
    assert(p.replaceAll("\\s", "").contains("EqualTo(lang,en)"),
      s"lang predicate not pushed to the documents scan:\n$p")
    // the metadata side ships ids only — never text/vectors
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"metadata scan is not pruned to (doc_id, lang):\n$p")
    assert(!p.contains("CartesianProduct"),
      "filtered search degenerated to an unfiltered all-pairs")
  }

  test("q83: the LM model broadcasts — bigram rows never reach a join " +
       "shuffle, even at the at-scale shape") {
    // the capped model is O(model) by construction, so the scoring joins
    // must be broadcast-hash at ANY corpus size; a SortMergeJoin or
    // ShuffledHashJoin here is the 218-second sf100 draft resurfacing
    // (doc-bigram side shuffled by token). atScaleShape turns off the
    // threshold, so only the explicit broadcast() hints keep this true.
    val p = atScaleShape { plan(q("q83_lm_quality")) }
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"LM scoring join shuffles the doc-bigram side:\n$p")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"expected two broadcast scoring joins, got $bhj:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "model counts are not partial-aggregated before their shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "the model cap should plan as TakeOrderedAndProject, not a global sort")
  }

  test("q84: the funnel plans NO join at all — two window passes and a " +
       "partial-agg'd rollup") {
    val p = atScaleShape { plan(q("q84_funnel_steps")) }
    assert(!p.contains("Join"), s"funnel planned a join:\n$p")
    // pass B's two running-`last` columns plan as two Window operators but
    // share ONE sort + exchange (same spec, back to back); the shuffle
    // ledger — the thing that matters at 100 TB — is exactly two
    // user_id hash exchanges, one per as-of pass
    val userShuffles = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles == 2,
      s"expected exactly two user_id exchanges, got $userShuffles:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "the per-day rollup is not partial-aggregated")
  }

  test("no registered query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("every query's scan carries an explicit schema (no inference)") {
    // inference would surface as a schema-less scan; explicit loaders give
    // every FileScan a ReadSchema entry
    SparkEntry.queries.take(5).foreach { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      if (p.contains("FileScan"))
        assert(p.contains("ReadSchema"), s"$name scan lacks ReadSchema")
    }
  }

  test("q108: pagerank's result is a top-k (TakeOrderedAndProject), and " +
       "the iteration left no join lineage in the final plan (checkpoint " +
       "per round — the q63 truncation contract)") {
    atScaleShape {
      val p = plan(q("q108_pagerank"))
      assert(!p.contains("CartesianProduct"),
        s"pagerank degenerated to all-pairs:\n$p")
      assert(p.contains("TakeOrderedAndProject"),
        s"top-20 became a global sort:\n$p")
      // 10 rounds re-derived into one plan tree is the exponential-plan
      // failure localCheckpoint exists to prevent: the final plan must
      // read the last round's snapshot, not re-join all 10
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"iteration lineage leaked into the final plan:\n$p")
    }
  }

  test("q90: semantic dedup's pairwise stage is a cluster equi-join over " +
       "the materialized canopy leader model — never all-pairs") {
    atScaleShape {
      val df = q("q90_semantic_dedup")
      val p = plan(df)
      // the SemDeDup contract: candidates come from the leader-id
      // equi-join; a CartesianProduct means within-cluster degenerated
      // to corpus all-pairs (the O(N^2 d) shape the quantizer exists to
      // avoid). The leader assignment and the outlier-residue compare
      // broadcast their small side, so the only legal nested-loop is a
      // broadcast one.
      assert(!p.contains("CartesianProduct"),
        s"semantic dedup degenerated to all-pairs:\n$p")
      // the leader model trained through Merge.materialize: the artifact
      // must exist in the warehouse after construction (the assignment
      // itself is checkpointed, so the final plan reads the snapshot,
      // not the training lineage)
      val wh = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      assert(wh.listFiles != null &&
        wh.listFiles.exists(_.getName.startsWith("graft_canopy_leaders_")),
        s"canopy leader model was not materialized under $wh")
    }
  }

  test("q119: resample is two hash Exchanges (hour collapse partial-aggs, " +
       "lead window) and ZERO joins — the grid is explode-forward, not " +
       "grid-join-obs") {
    // the naive shape materializes a per-user hour grid and left-joins
    // the observations back (two extra Exchanges + an ignoreNulls fill
    // window over the full grid). The explode-forward form synthesizes
    // missing hours WITH their fill value attached, so at 100 TB the
    // only full-data shuffle is the (user, hour) collapse — everything
    // after it is span-bounded per user.
    atScaleShape {
      val p = plan(q("q119_resample_ffill"))
      // r21: the fill window rides a RANGE partition on user_id, which
      // also satisfies the declared ORDER BY — one hash Exchange (the
      // collapse) + one range Exchange TOTAL; the old shape's third
      // exchange (the final sort, whose sampling re-ran the window
      // stage) is gone
      val nh = "Exchange hashpartitioning".r.findAllIn(p).length
      val nr = "Exchange rangepartitioning".r.findAllIn(p).length
      assert(nh == 1, s"expected exactly one hash Exchange, got $nh:\n$p")
      assert(nr == 1, s"expected exactly one range Exchange, got $nr:\n$p")
      assert(!p.contains("Join"), s"resample must not join:\n$p")
      assert(p.contains("partial_max"),
        s"hour collapse must partial-agg map-side:\n$p")
      assert(p.contains("Generate explode"),
        s"grid synthesis must be an explode:\n$p")
    }
  }

  test("q120: the rolling feature stage adds ZERO Exchanges over q119 — " +
       "every rolling window rides the grid's user_id partitioning") {
    // A ROWS(-23, 0) frame over the regular grid costs O(1) per row in
    // the window buffer; the design risk is an accidental re-shuffle
    // (e.g. a window keyed differently from the grid). Pin: exactly the
    // SAME two hash Exchanges as q119, still no joins.
    atScaleShape {
      val p = plan(q("q120_rolling_features"))
      // r21: same two exchanges as q119 (hash collapse + range fill) and
      // nothing more — the rolling frames ride the grid's range
      // partition, and the final ORDER BY is satisfied by it
      val nh = "Exchange hashpartitioning".r.findAllIn(p).length
      val nr = "Exchange rangepartitioning".r.findAllIn(p).length
      assert(nh == 1, s"expected exactly one hash Exchange, got $nh:\n$p")
      assert(nr == 1, s"expected exactly one range Exchange, got $nr:\n$p")
      assert(!p.contains("Join"), s"rolling features must not join:\n$p")
      assert(p.contains("RunningWindowFunction") || p.contains("Window"),
        s"expected a window stage:\n$p")
    }
  }

  test("q123: the unified recovery runs TWO blocked matchers total " +
       "(pass 1 + one tagged pass-2/3 matcher), not three") {
    // Each matcher contributes exactly one length-band explode
    // (`explode(sequence(len-d, len+d))`) — a count immune to how
    // aggressively Catalyst inlines the levenshtein alias into Filters.
    // Counted on the FINAL adaptive plan: pass 1 is REFERENCED twice
    // (residue anti-join + verdicts union), but its stage executes once
    // — AQE reuse collapses the plan-string duplicate that the initial
    // plan would double-count.
    atScaleShape {
      def matchers(name: String) =
        "explode\\(sequence".r.findAllIn(finalPlan(q(name))).length
      assert(matchers("q116_fuzzy_join") == 1,
        "q116 must run exactly one blocked matcher")
      val multi = matchers("q123_fuzzy_join_multipass")
      assert(multi == 2,
        s"expected pass 1 + ONE unified recovery matcher, got $multi")
    }
  }

  test("q125: encode is ONE hash Exchange of per-doc partials — the type " +
       "table broadcasts onto the raw word stream") {
    // The r16 draft pre-counted (doc, word) pairs before the join,
    // shuffling the whole occurrence stream for nothing (the broadcast
    // join is map-side anyway). Pin: one hashpartitioning Exchange
    // (per-doc agg), an explicit BroadcastHashJoin, partials map-side.
    val p = plan(q("q125_bpe_encode"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash Exchange, got $n:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"type table must broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc sums must partial-agg map-side:\n$p")
  }

  test("q126: the duplicated-gram probe is a semi-join and the gram " +
       "count partial-aggs — no occurrence accumulation anywhere") {
    atScaleShape {
      val p = plan(q("q126_dup_spans"))
      assert(p.contains("LeftSemi"),
        s"dup positions must come from a semi-join:\n$p")
      assert(p.contains("partial_count"),
        s"gram count must partial-agg map-side:\n$p")
      assert(!p.contains("collect_list"),
        s"no per-gram occurrence accumulation allowed:\n$p")
    }
  }

  test("q138: past the component labels, the split is a PROJECTION — no " +
       "join, no hash Exchange (the presentation sort is the only one) — " +
       "and the labels are SERVED from the standing graft_ccr_base " +
       "artifact (r20: no re-shingle + re-cluster per run)") {
    val p = plan(q("q138_leakage_split"))
    assert(p.contains("graft_ccr_base_"),
      s"split must serve the standing label artifact:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"split assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"split assignment must not join:\n$p")
    assert(!p.contains("Generate"),
      s"serving plan must not re-shingle the corpus:\n$p")
  }

  test("q146: the Δ-fold SERVES the standing pair and batch-0 label " +
       "artifacts — the served plan re-derives neither (no Generate " +
       "anywhere; the base labels are a FileScan)") {
    val p = plan(q("q146_leakage_incremental"))
    assert(p.contains("graft_ccr_base0_"),
      s"prev-split side must serve the standing batch-0 labels:\n$p")
    assert(!p.contains("Generate"),
      s"served plan must not re-shingle the corpus:\n$p")
  }

  test("q139: the manifest NEVER plans a no-partition global Window (the " +
       "1-task bottleneck the two-pass scan exists to avoid); the shard " +
       "aggregate partial-aggs over exactly one hash Exchange") {
    val p = plan(q("q139_shard_export"))
    assert(!p.contains("Window"),
      s"global cumsum must not plan a Window:\n$p")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected exactly one hash Exchange (shard agg), " +
      s"got $n:\n$p")
    assert(p.contains("partial_count"),
      s"manifest aggregate must partial-agg map-side:\n$p")
  }

  test("q141: the postings probe DYNAMICALLY PRUNES cells — the scan's " +
       "PartitionFilters carry the broadcast query assignment, so a probe " +
       "reads nprobe inverted lists, not the corpus") {
    val p = plan(q("q141_ivf_incremental"))
    assert(p.contains("dynamicpruning"),
      s"postings scan must carry a dynamic pruning expression:\n$p")
    assert(p.contains("PartitionFilters: [isnotnull(label"),
      s"postings scan must filter on the cell partition column:\n$p")
  }

  test("q142: the warm probe is DECODE-FREE — the served plan is the " +
       "cluster election over the parquet ledger, with no imperative " +
       "object boundary (the codec lives only in the cold build)") {
    // constructing the frame runs the presence-keyed appends (cold
    // build); the PLAN that serves afterwards must read the ledger only
    val p = plan(q("q142_phash_incremental"))
    assert(p.contains("FileScan parquet"),
      s"q142 must serve from the materialized ledger:\n$p")
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions"),
      s"warm probe must not cross an object boundary (decode!):\n$p")
  }

  test("q143: the fused epoch export never plans a no-partition Window " +
       "— composition must not reintroduce the 1-task cumsum") {
    val p = plan(q("q143_epoch_shards"))
    assert(!p.contains("Window"),
      s"epoch export must use the two-pass scan, not a Window:\n$p")
  }

  test("q148: the composed curation pipeline SERVES the standing NB " +
       "artifact (FileScan of the materialized model, never an in-query " +
       "retrain) and plans exactly one Window — the canonical election, " +
       "never a global cumsum") {
    // pin the UNstaged composition: temperatureCopies/shardManifest
    // stage through eager localCheckpoints, truncating the served plan
    // to a scan — the curated-corpus stage is where the election and
    // decontam joins are visible. r21: the gate VERDICT is also staged
    // (the composed pipeline referenced it from 6+ subtrees, re-running
    // the scoring corpus pass each time), so the no-retrain property is
    // pinned on the unstaged gate leg directly.
    val pg = plan(Documents.nbGateIds(spark, sfDir))
    assert(pg.contains("graft_nb_"),
      s"the NB gate must read the materialized artifact:\n$pg")
    val p = plan(Documents.curatedDocs(spark, sfDir))
    // r20 (VERDICT r19 item 2): the dedup stage serves the standing
    // pair/label artifacts through the q152 repair verb — the untouched
    // side's anti-join scans graft_ccr_base, and nothing in the served
    // plan re-derives minhash pairs (no shingle posexplode subtree)
    assert(p.contains("graft_ccr_base_"),
      s"the dedup stage must serve the standing labels:\n$p")
    val wins = "Window".r.findAllIn(p).length
    assert(wins == 1,
      s"expected exactly one Window (the q80 election), got $wins:\n$p")
    assert(p.contains("windowspecdefinition(cluster_rep"),
      s"the one Window must be the cluster-partitioned election:\n$p")
  }

  test("q127: the keeper election partial-aggs its struct-min over the " +
       "span-text domain; the finder's semi-join shape is preserved") {
    atScaleShape {
      // the registered query stages through an eager localCheckpoint
      // (ADVICE r17 persist-release), which truncates the executed plan
      // to a Scan of the result — pin the UNstaged derivation, the plan
      // that actually executes inside the checkpoint
      val p = plan(Documents.spanDedupCore(
        graft.Tables.documents(spark, sfDir), Documents.DupSpanK,
        stage = false))
      assert(p.contains("LeftSemi"), s"finder semi-join lost:\n$p")
      assert(p.contains("partial_min"),
        s"keeper election must partial-agg map-side:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in q127:\n$p")
    }
  }

  test("q152: the untouched side of a cluster repair is ONE broadcast " +
       "anti-join on the affected-label set — the standing corpus is " +
       "never re-clustered or shuffled for a takedown") {
    import spark.implicits._
    val standing = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L)).toDF("doc_id", "lbl")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val p = plan(Documents.repairClusters(standing, pairs,
      Seq(2L).toDF("doc_id")))
    assert(p.contains("LeftAnti"),
      s"untouched-label projection must be an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"the affected-label set must BROADCAST (it is batch-bounded):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a takedown must never shuffle the standing corpus:\n$p")
  }
}
