package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational, Similarity}

/** Physical-plan audits: the scale properties §5 claims — column
  * pruning to the parquet scan, predicate pushdown, broadcast of
  * small sides, bounded shuffle counts — asserted on the actual
  * planned strings so a regression (a new column dragged through a
  * shuffle, a lost pushdown) fails CI instead of surfacing at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("jaccard document scan prunes to the three used columns") {
    val plan = planOf(Dedup.jaccardPairs(spark, sf))
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("doc_id") && scanLine.contains("text") &&
      scanLine.contains("source"))
    assert(!scanLine.contains("n_chars") && !scanLine.contains("lang"),
      s"unpruned scan: $scanLine")
  }

  test("q1 pushes the shipdate filter into the parquet scan") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_shipdate"), "filter not pushed to scan")
  }

  test("annLsh broadcasts query embeddings, never the corpus") {
    val plan = planOf(Similarity.annLsh(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), "no broadcast in annLsh plan")
  }

  test("simJoinLsh bounded shuffles: bucket groupBy + pair distinct + sort") {
    val plan = planOf(Similarity.simJoinLsh(spark, sf))
    // banding flatMap -> ONE hash exchange into the bucket groupBy,
    // ONE into the member-set distinct, ONE into the pair distinct,
    // plus the final orderBy's range exchange; anything more means
    // embeddings started riding extra shuffles again
    val required = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("RoundRobinPartitioning"))
    assert(required <= 4, s"$required requirement shuffles:\n$plan")
    // the ONE sanctioned round-robin: the r20 parallelism-floor spread
    // BELOW the signature kernel (bandedVectors), a structural no-op
    // on any multi-split scan — a second one means a spread leaked
    // into the pair tail where the data is already exchange-spread
    val spreads = plan.linesIterator.count(_.contains("RoundRobinPartitioning"))
    assert(spreads <= 1, s"$spreads round-robin spreads:\n$plan")
  }

  test("grouped aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf(Relational.q1PricingSummary(spark, sf))
    val firstAgg = plan.linesIterator.find(_.contains("HashAggregate")).get
    // executed plans list the final agg first; the partial agg must
    // exist below the exchange
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "no partial aggregation")
  }

  test("wordcount_salted two-phase agg keeps partial aggregation") {
    val plan = planOf(graft.operators.AdvancedOps.wordcountSalted(spark, sf))
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("contamination screen (default, indexed): zero data shuffles") {
    val plan = planOf(Dedup.screenAgainstReference(spark, sf))
    // the default shape broadcasts a primitive ref index and emits
    // already-filtered pairs from one typed flatMap: nothing may
    // exchange except the final orderBy's range partitioning and the
    // low-split parallelism floor's round-robin spread
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"per-pair join shape regressed:\n$plan")
    val required = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("RoundRobinPartitioning") &&
        !l.contains("rangepartitioning"))
    assert(required == 0, s"$required data shuffles in indexed screen:\n$plan")
    // no (doc, ref) aggregation — intersections are counted in the
    // flatMap; a HashAggregate here means the spilling shape is back
    assert(!plan.contains("HashAggregate"),
      s"count aggregation regressed into the indexed screen:\n$plan")
    // the kernel must run exactly once per row: no pushed-down filter
    // may re-evaluate shinglekeys below the projection
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("shinglekeys")),
      s"kernel re-evaluated in a pushed filter:\n$plan")
  }

  test("contamination screen (join fallback): broadcast hash join, no per-pair loop") {
    val plan = planOf(Dedup.screenDocsJoin(
      graft.Tables.documents(spark, sf)))
    // the reference postings build a broadcast hash index on the
    // shingle key; a nested-loop join means the Θ(corpus × refs)
    // per-pair intersection regressed
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"per-pair join shape regressed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"reference postings not broadcast-hash-joined:\n$plan")
    // no interpreted intersection may ride the join: hit counts come
    // from the (doc, ref) aggregation after the equi-join
    assert(!plan.contains("sortedintersectcount"),
      s"per-pair intersection back in the plan:\n$plan")
    // requirement exchanges: the dim-side per-shingle ref-list agg,
    // the (doc, ref) count agg, and the final orderBy's range
    // exchange. The ≤2 per-branch round-robin spreads are the
    // parallelism floor for low-split inputs (the 100× probe caught
    // the whole pipeline serialized on 2 parquet splits) and vanish
    // on a wide scan. None carries text: postings are two longs and
    // the ref lists ride a BroadcastExchange.
    val required = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("RoundRobinPartitioning"))
    assert(required <= 3, s"$required requirement shuffles:\n$plan")
    val spreads = plan.linesIterator.count(_.contains("RoundRobinPartitioning"))
    assert(spreads <= 2, s"$spreads round-robin spreads:\n$plan")
    // the count agg partially aggregates map-side before its exchange
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation on hit counts:\n$plan")
    // the parallelism floor must spread the compact test input before
    // the kernel runs (scan splits < shuffle width here)
    assert(spreads >= 1,
      s"low-split input not spread before the kernel:\n$plan")
    // the kernel must run exactly once per row: no pushed-down filter
    // may re-evaluate shinglekeys below the projection
    assert(!plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("shinglekeys")),
      s"kernel re-evaluated in a pushed filter:\n$plan")
  }

  test("jaccard postings stay two-long rows: no strings reach a shuffle") {
    val plan = planOf(Dedup.jaccardPairs(spark, sf))
    // the posting flatMap emits (shingle: long, packed: long); if
    // `text` or `source` ever appears in an Exchange the kernel fusion
    // regressed and strings are riding the dominant shuffle again
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchangeLines.nonEmpty)
    exchangeLines.foreach { l =>
      assert(!l.contains("text#") && !l.contains("source#"),
        s"string column in shuffle: $l")
    }
    // exactly: postings->buckets, member-set multiplicity groupBy,
    // pair groupBy, final sort
    val required = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("RoundRobinPartitioning"))
    assert(required <= 4, s"$required requirement shuffles:\n$plan")
    // the ONE sanctioned round-robin: the r20 parallelism-floor
    // spread BELOW the shingle kernel (measured 2.26 → 1.01 s at
    // sf0.1 — the kernel is the dominant cost and the small file
    // scans as one partition); a no-op on any multi-split scan, and
    // it carries text only up to the kernel that reduces it to longs
    val spreads = plan.linesIterator.count(_.contains("RoundRobinPartitioning"))
    assert(spreads <= 1, s"$spreads round-robin spreads:\n$plan")
  }

  test("incremental screens shuffle fingerprints and sketches, never text") {
    import graft.operators.IncrementalDedup
    // the whole point of the persisted index: a 100 TB corpus's text
    // stays in place; screens move ~280 B/doc of ids + sketches
    Seq(IncrementalDedup.incrementalNear(spark, sf),
        IncrementalDedup.incrementalExact(spark, sf)).foreach { df =>
      val plan = planOf(df)
      val ex = plan.linesIterator.filter(_.contains("Exchange")).toList
      assert(ex.nonEmpty)
      ex.foreach { l =>
        assert(!l.contains("text#"), s"document text in a shuffle: $l")
      }
    }
    // the exact screen's fp -> min(id) aggregate must combine
    // map-side so a hot fingerprint never skews the join shuffle
    val exact = planOf(IncrementalDedup.incrementalExact(spark, sf))
    assert(exact.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "fp aggregate is not partial")
  }

  test("media signature and dedup plans never shuffle payload bytes") {
    import graft.multimodal.Multimodal
    val sigPlan = planOf(Multimodal.mediaSignatures(spark, sf))
    sigPlan.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("content#"), s"payload bytes in a shuffle: $l")
    }
    // mediaDedup runs on localCheckpointed signatures: the payload
    // column must not exist anywhere downstream of the checkpoint
    val dedupPlan = planOf(Multimodal.mediaDedup(spark, sf))
    assert(!dedupPlan.contains("content#"),
      s"payload bytes escaped the signature checkpoint:\n$dedupPlan")
  }

  test("shingle counting is a kernel projection, no regex machinery") {
    val plan = planOf(graft.operators.TextOps.textShingles(spark, sf))
    // both counts come from the one-pass byte kernels, directly over
    // the scan (WholeStageCodegen wraps this Project at execution;
    // the pre-AQE plan string doesn't print the codegen stage)
    assert(plan.contains("wstokencount") && plan.contains("shinglekeys"),
      s"kernels missing from plan:\n$plan")
    assert(!plan.contains("split(") && !plan.contains("array_distinct"),
      s"string machinery back in the plan:\n$plan")
  }

  test("textRepetition is a projection: no aggregate, no join, sort-only exchange") {
    val plan = planOf(graft.operators.TextOps.textRepetition(spark, sf))
    assert(plan.contains("toptokencount"),
      s"top-token kernel missing from plan:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("Join") &&
      !plan.contains("Generate"),
      s"explode/agg/join machinery back in textRepetition:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 1, // only the output orderBy's range exchange
      s"$exchanges shuffle exchanges in a per-row statistic:\n$plan")
  }

  test("minhash verify join carries long arrays, never shingle strings") {
    val plan = planOf(graft.operators.MinHashDedup.minhashPairs(spark, sf))
    assert(!plan.contains("array_intersect"),
      "string array_intersect back in the verify join")
    assert(plan.contains("sortedintersectcount") ||
      plan.toLowerCase.contains("sortedintersect"),
      s"merge-count kernel missing from plan")
  }

  test("textNovelty shingle df is partial-agged — no window over raw postings") {
    // a window partitioned by shingle puts every posting of a hot
    // stop-shingle on ONE task (no map-side combine) — a power-law
    // corpus scale-killer. The df must come from a groupBy whose
    // partial aggregate collapses postings before the exchange.
    val plan = planOf(graft.operators.CorpusOps.textNovelty(spark, sf))
    assert(!plan.contains("Window"),
      s"shingle df regressed to a window over raw postings:\n$plan")
    assert(plan.contains("partial_count") ||
      plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"shingle df exchange not preceded by partial aggregation:\n$plan")
  }

  test("dsir count-table aggs are partial; no strings cross a shuffle") {
    val plan = planOf(graft.operators.Search.dsirDocStats(spark, sf))
    assert(!plan.contains("Window"), s"window crept into dsir:\n$plan")
    assert(plan.contains("partial_count") ||
      plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"dsir count table not partially aggregated:\n$plan")
    // features travel as 8-byte FNV keys — the text column must never
    // reach an exchange
    plan.linesIterator.filter(_.contains("Exchange")).foreach { l =>
      assert(!l.contains("text#"), s"text column in dsir shuffle: $l")
    }
  }

  test("pipeline_full composes without windows or cartesian products") {
    // the composed recipe must inherit every stage's scale shape: the
    // only Window anywhere in the stages is banned (pack/mix run on
    // GlobalOrder prefix-sums; the keeper is a partial-agged argmax),
    // and no stage handoff may degenerate into a cartesian join. The
    // eager line-dedup/checkpoint stages run at construction; this
    // audits the final composed plan.
    Seq(
      "pipeline_full" -> graft.operators.Pipeline.pipelineFull(
        graft.operators.Pipeline.plantedDocs(spark, sf)),
      "pipeline_scrub" -> graft.operators.Pipeline.pipelineScrub(
        graft.operators.Pipeline.plantedDocs(spark, sf))
    ).foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("Window"),
        s"window crept into $name:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product in $name:\n$plan")
      // the ONE sanctioned nested-loop join: mixSources' scalar total
      // — #sources rows × the single sum(w) row (broadcast, bounded
      // by construction). Any OTHER BNLJ is an unbounded join
      // regression.
      val bnlj = plan.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.forall(_.contains("tot#")),
        s"non-scalar nested-loop join in $name:\n${bnlj.mkString("\n")}")
    }
  }

  test("no query pushes a higher-order function into a Filter (whole surface)") {
    // the alias-substitution trap, third sighting (r9 embed_quantize,
    // 171.7 s at 100×): Generate's implicit size>0/isnotnull predicate
    // (or any pushed filter) substitutes the aliased expression below
    // the projection — if that alias holds a transform/filter/
    // aggregate lambda, the whole interpreted HOF chain re-runs per
    // row in the Filter, then again in the (now non-codegen) Project.
    // Lint every registered query's physical plan: a `lambdafunction`
    // inside a Filter operator means a derived array column leaked
    // into a predicate — explode the raw attribute / pre-materialize
    // instead. Known gap: bm25_search evaluates eagerly (bounded
    // top-k collected so its cache can release) and presents a
    // LocalTableScan here — its internal plan is audited by
    // KernelEvalAuditSpec's one-eval-per-row pin instead.
    val filterOp = """(?:\*\(\d+\) )?(?:\+- )?Filter[ (]""".r
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      plan.linesIterator
        .filter(l => filterOp.findFirstIn(l.trim).isDefined)
        .filter(_.contains("lambdafunction"))
        .map(l => s"$name: ${l.trim.take(160)}")
        .toList
    }
    assert(offenders.isEmpty,
      s"HOF inside a Filter in ${offenders.size} plan line(s):\n" +
        offenders.mkString("\n"))
  }

  test("no graft kernel repeats >=3x inside one Filter (whole surface)") {
    // the alias-substitution trap, kernel edition (r17): FilterExec
    // does no subexpression elimination, so a predicate that pushed
    // through a kernel projection re-evaluates the kernel once per
    // substituted reference — the T15 tree measured 10×/row, the
    // release pipelines' keep conjuncts blew the 64 KB codegen limit.
    // Lint every registered query's OPTIMIZED plan (post-pushdown):
    // the same graft kernel appearing >= 3 times in one Filter
    // condition means a multi-reference score/stat tree leaked into a
    // predicate — fuse it into one kernel call (model_score) or fence
    // the projection (releaseCapped). 1–2 occurrences stay legal: a
    // direct gate on one kernel output is the intended shape.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan
      plan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case e if e.getClass.getName.startsWith("graft.functions.") =>
              e.getClass.getSimpleName
          }.groupBy(identity).collect {
            case (k, occ) if occ.size >= 3 => s"$name: $k x${occ.size}"
          }
      }.flatten
    }
    assert(offenders.isEmpty,
      s"kernel re-evaluated in a Filter in ${offenders.size} case(s):\n" +
        offenders.mkString("\n"))
  }

  test("pipeline_release: keyed windows, broadcast blocklist, no cartesian") {
    // stages 1-4 (the shard prefix-sum is eager, so the audit pins
    // the lazy pre-shard frame): the blocklist must broadcast, both
    // windows must be PARTITIONED (fp dedup / per-domain cap), and
    // no handoff may degenerate into a cartesian or unpartitioned
    // exchange — text is projected away before the first window.
    val plan = planOf(
      graft.operators.Pipeline.releaseCappedQuery(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in pipeline_release:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"unpartitioned exchange in pipeline_release:\n$plan")
    val windows = plan.linesIterator.filter(_.contains("Window")).toList
    assert(windows.size >= 2, s"expected both windows:\n$plan")
    assert(windows.forall(l => l.contains("fp#") || l.contains("domain#")),
      s"window not keyed by fp/domain:\n${windows.mkString("\n")}")
    // the signals half sits below the Fence (r17): audit it directly
    val below = planOf(graft.operators.Pipeline.releaseSignalsQuery(
      spark, sf))
    assert(below.contains("BroadcastHashJoin"),
      s"blocklist did not broadcast below the fence:\n$below")
    assert(!below.contains("CartesianProduct") &&
      !below.contains("SinglePartition"),
      s"degenerate exchange below the fence:\n$below")
    // the whole point of the fence: the keep predicates stay a filter
    // on fenced int columns, so no kernel tree is substituted into a
    // Filter conjunct in either half
    Seq("pagestats" -> plan, "pagestats" -> below,
        "modelstats" -> plan, "modelstats" -> below).foreach {
      case (kernel, p) =>
        p.linesIterator.filter(l =>
            """(?:\*\(\d+\) )?(?:\+- )?Filter[ (]""".r
              .findFirstIn(l.trim).isDefined)
          .foreach(l => assert(!l.contains(kernel),
            s"$kernel substituted into a Filter: ${l.trim.take(160)}"))
    }
  }

  test("pipeline_web: markup dies in the scan projection, never crosses a shuffle") {
    val plan = planOf(
      graft.operators.Pipeline.releaseCappedWebQuery(spark, sf))
    // P6's audit properties hold with extraction in front…
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SinglePartition"), s"degenerate exchange:\n$plan")
    // …and no html/raw-page column rides any exchange: extraction is
    // a pure projection fused into the scan side
    plan.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("html"), s"raw markup crosses a shuffle: $l"))
    // the gate + signals half sits below the Fence (r17): the
    // broadcast, the non-degenerate shape AND the markup-dies-in-scan
    // property are audited on that half's own plan
    val below = planOf(graft.operators.Pipeline.releaseSignalsWebQuery(
      spark, sf))
    assert(below.contains("BroadcastHashJoin"),
      s"blocklist did not broadcast below the fence:\n$below")
    assert(!below.contains("CartesianProduct") &&
      !below.contains("SinglePartition"),
      s"degenerate exchange below the fence:\n$below")
    below.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("html"), s"raw markup crosses a shuffle: $l"))
  }

  test("domain_filter: blocklist joins by broadcast, zero data shuffles") {
    val plan = planOf(
      graft.operators.DomainOps.domainFilterQuery(spark, sf))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"blocklist did not broadcast:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    // only the final orderBy's range exchange — the gate itself is a
    // pure projection over the scan
    assert(exchanges <= 1, s"$exchanges non-broadcast exchanges:\n$plan")
  }

  test("domain_cap window is PARTITIONED by domain, never unpartitioned") {
    val plan = planOf(graft.operators.DomainOps.domainCapQuery(spark, sf))
    val windows = plan.linesIterator.filter(_.contains("Window")).toList
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("domain")),
      s"window not keyed by domain:\n${windows.mkString("\n")}")
    assert(!plan.contains("SinglePartition"),
      s"unpartitioned exchange in domain_cap:\n$plan")
  }

  test("domain_cap_apply: bounded-heap aggregate, no Window operator") {
    val plan = planOf(
      graft.operators.DomainOps.domainCapApplyQuery(spark, sf))
    assert(!plan.contains("Window"),
      s"heap shape regressed to a window sort:\n$plan")
    assert(plan.contains("topk_by"), s"TopKBy aggregate missing:\n$plan")
    // partial (map-side) aggregation must survive: two agg operators
    assert(plan.linesIterator.count(l =>
      l.contains("ObjectHashAggregate") || l.contains("SortAggregate")) >= 2,
      s"no partial aggregation for the heap:\n$plan")
  }

  test("signals_ablation: partial agg to <=16 cells, no join, one data shuffle") {
    val plan = planOf(
      graft.operators.TextOps.signalsAblationQuery(spark, sf))
    // map-side combine: two HashAggregates around the exchange, so at
    // most 16 combination rows per partition reach the shuffle
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation in the ablation:\n$plan")
    assert(!plan.contains("Join"), s"join machinery in ablation:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    // the 16-cell agg exchange + the output sort's range exchange
    assert(exchanges <= 2, s"$exchanges data exchanges:\n$plan")
  }

  test("model_threshold_sweep: grid broadcasts, text pruned before the multiply") {
    val plan = planOf(
      graft.operators.TextOps.modelThresholdSweep(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"threshold grid did not broadcast:\n$plan")
    // the 21x fan-out must multiply (q_score, n_bytes) scalar rows,
    // never the text column: the projection sits under the join
    val joinIdx = plan.linesIterator.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    val below = plan.linesIterator.drop(joinIdx + 1).mkString("\n")
    assert(below.contains("q_score") || plan.contains("q_score"))
    plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .foreach(l => assert(!l.contains("text"),
        s"text column rides the grid join: $l"))
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation in the sweep:\n$plan")
  }

  test("html_extract is one codegen'd projection: no UDF, no agg, no join") {
    val plan = planOf(graft.operators.TextOps.htmlExtract(spark, sf))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"UDF machinery in html_extract:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Aggregate"),
      s"non-projection machinery in html_extract:\n$plan")
    // scan-bound: the only exchange is the output sort's range
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 1, s"$exchanges data exchanges:\n$plan")
    // built-in regexp_replace/replace only — both codegen'd; the
    // UDF/Python assertions above are the regression guard (the AQE
    // plan string materializes codegen spans only after execution)
  }

  test("knn_graph_ivf: broadcast centroids, bounded heaps, no window, no cartesian") {
    val plan = planOf(Similarity.knnGraphIvf(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"centroids did not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the IVF graph build:\n$plan")
    // both rank stages are R26 bounded heaps — a Window here would
    // shuffle-and-sort every candidate row at corpus scale
    assert(!plan.contains("Window"),
      s"rank stage regressed to a window sort:\n$plan")
    assert(plan.contains("topk_by"), s"TopKBy heaps missing:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"unpartitioned exchange in knn_graph_ivf:\n$plan")
  }

  test("embed_prune_proto scan prunes to vec_id + embedding") {
    val plan = planOf(
      graft.operators.Clustering.embedPruneProto(spark, sf, k = 8))
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(scanLine.contains("vec_id") && scanLine.contains("embedding"),
      s"pruned too far: $scanLine")
    assert(!scanLine.contains("label"), s"unpruned scan: $scanLine")
  }

  test("domain_line_dedup rebuild: no join, no window, broadcast " +
      "frontier only") {
    val plan = planOf(
      graft.operators.CorpusOps.domainLineDedupQuery(spark, sf))
    // the frontier arrives as a closure broadcast, not a plan-side
    // join; the rebuild is map + the final orderBy's range exchange
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 1, s"$exchanges data exchanges:\n$plan")
  }

  test("frontier scrub family: every rebuild is join-free with the " +
      "face's orderBy as its one data exchange; the pipelines' " +
      "carried-source rebuild has none") {
    import graft.operators.CorpusOps
    def dataExchanges(plan: String): Int = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange") &&
        !l.contains("RoundRobinPartitioning"))
    def spreads(plan: String): Int =
      plan.linesIterator.count(_.contains("RoundRobinPartitioning"))
    // (domain_line_dedup: the test above)
    val faces = Seq(
      "line_dedup" -> CorpusOps.lineDedupQuery(spark, sf),
      "paragraph_dedup" -> CorpusOps.paragraphDedupQuery(spark, sf),
      "substring_scrub" -> CorpusOps.substringScrubQuery(spark, sf),
      "sentence_span_scrub" -> CorpusOps.sentenceSpanScrubQuery(spark, sf))
    faces.foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("Join"), s"$name: unexpected join:\n$plan")
      assert(!plan.contains("Window"), s"$name: unexpected window:\n$plan")
      assert(dataExchanges(plan) <= 1,
        s"$name: ${dataExchanges(plan)} data exchanges:\n$plan")
      // the token-window rebuild keeps its parallelism-floor spread
      // (a no-op on any multi-split scan); no other face spreads
      assert(spreads(plan) <= (if (name == "substring_scrub") 1 else 0),
        s"$name: ${spreads(plan)} round-robin spreads:\n$plan")
    }
    // the rebuilds pipeline_full and pipeline_scrub run, carrying
    // `source`: text never shuffles, and `source` is never re-attached
    // by a join
    val docs = graft.Tables.documents(spark, sf)
    val carried = Seq(
      "line" -> CorpusOps.frontierRebuild(docs, Seq("source"),
        spread = false, CorpusOps.bannedLineFrontier(docs))(
        CorpusOps.lineScrub),
      "window" -> CorpusOps.frontierRebuild(docs, Seq("source"),
        spread = true, CorpusOps.sharedWindowFrontier(docs))(
        CorpusOps.windowScrub(8)))
    carried.foreach { case (name, df) =>
      assert(df.columns.toSeq ==
        Seq("doc_id", "source", "clean_text", "n_kept", "n_dropped"))
      val plan = planOf(df)
      assert(!plan.contains("Join"), s"$name: unexpected join:\n$plan")
      assert(dataExchanges(plan) == 0,
        s"$name: ${dataExchanges(plan)} data exchanges:\n$plan")
      assert(spreads(plan) <= (if (name == "window") 1 else 0),
        s"$name: ${spreads(plan)} round-robin spreads:\n$plan")
    }
  }

  test("holdout_carve classification: one scan, no join, no agg") {
    val plan = planOf(
      graft.operators.Dedup.holdoutCarveQuery(spark, sf))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    assert(!plan.contains("Aggregate"), s"unexpected agg:\n$plan")
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(exchanges <= 1, s"$exchanges data exchanges:\n$plan")
  }

  test("contamination_report_join: hash equi-join, no cartesian, " +
      "partial agg before both exchanges, no countDistinct expand") {
    val plan = planOf(
      graft.operators.Dedup.contaminationReportJoinQuery(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in the postings join:\n$plan")
    // the never-collects shape's whole point: gram postings meet in
    // a shuffled hash join on the 8-byte key, never a driver collect
    assert(plan.contains("Join"), s"postings join missing:\n$plan")
    assert(!plan.contains("Expand"), s"countDistinct expand:\n$plan")
    // (eval, train) pair agg and the per-eval agg both map-side
    // combine: >= 4 HashAggregate lines (partial+final each)
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"missing partial aggregation:\n$plan")
  }

  test("pipeline_release_carve: broadcast blocklist, one id-keyed " +
      "text join, no cartesian, keyed windows only") {
    val plan = planOf(
      graft.operators.Pipeline.pipelineReleaseCarveQuery(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
    // the blocklist broadcast sits below releaseCapped's fence since
    // r17 — audited in the pipeline_release test on the signals half
    // the release stages' windows stay keyed (fp / domain) — an
    // unpartitioned window here would serialize the corpus
    assert(!plan.contains("SinglePartition"),
      s"unpartitioned exchange:\n$plan")
  }

  test("contamination_report: hit pairs partial-agg before the " +
      "eval-keyed shuffle, no countDistinct expansion") {
    val plan = planOf(
      graft.operators.Dedup.contaminationReportQuery(spark, sf))
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
    // count + sum only — the per-train pre-agg removed countDistinct,
    // whose expand would re-shuffle the pair stream twice
    assert(!plan.contains("Expand"), s"countDistinct expand:\n$plan")
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"no partial aggregation:\n$plan")
  }

  test("corpus_diversity: distinct keys partial-agg, totals " +
      "map-side combined") {
    val plan = planOf(
      graft.operators.CorpusOps.corpusDiversity(spark, sf))
    // two-level distinct + two-level sum: >= 4 aggregate operators
    assert(plan.linesIterator.count(_.contains("HashAggregate")) >= 4,
      s"missing partial agg:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("no registered fence sits above a shuffle exchange " +
      "(structural form of the Fence scaladoc rule)") {
    import graft.plans.Fence
    import scala.jdk.CollectionConverters._
    // every registered query that composes through Fence.stageBarrier
    // — a fence plans its child eagerly (toRdd), so a shuffle below
    // it would RUN at composition time; the scaladoc forbids it and
    // this lint makes the rule structural (the r17 verdict's #3).
    // Broadcast exchanges are allowed by contract (same work, paid
    // earlier); only ShuffleExchangeLike nodes fail the audit.
    // VERSION-COUPLED: the walk unwraps today's AQE node shapes
    // (recorded in graft.SparkVersionAssumption, tripped deliberately
    // by SparkVersionSpec on a bump); the negative control below is
    // what catches a Spark that changes them.
    val fencedQueries = Seq("pipeline_clean", "model_threshold_sweep",
      "pipeline_ingest", "pipeline_ingest_verified", "pipeline_signals",
      "pipeline_release", "pipeline_web", "pipeline_release_carve")
    // NEGATIVE CONTROL first — the r18 review found the original lint
    // collected from sparkPlan, where EnsureRequirements never runs,
    // so NO child ever showed a shuffle and the lint was vacuous. A
    // deliberately shuffle-bearing child must be seen, or the audit
    // itself is broken and every green assertion below is meaningless.
    Fence.auditLog.clear()
    Fence.auditEnabled = true
    try {
      import spark.implicits._
      Fence.stageBarrier(
        Seq((1L, "a"), (2L, "b"), (1L, "c")).toDF("k", "v")
          .groupBy("k").count())
    } finally Fence.auditEnabled = false
    val control = Fence.auditLog.asScala.toList
    assert(control.exists(_._2.nonEmpty),
      "audit failed to see the control groupBy's shuffle — the " +
        "exchange walk is vacuous again (sparkPlan has no exchanges; " +
        "walk the AQE executedPlan)")
    // per-query staleness guard: EVERY listed query must construct at
    // least one fence on its own — a total-count check lets one
    // recipe silently lose its fence behind another's multiple sites
    val bad = fencedQueries.flatMap { n =>
      Fence.auditLog.clear()
      Fence.auditEnabled = true
      try SparkEntry.queries(n)(spark, sf)
      finally Fence.auditEnabled = false
      val entries = Fence.auditLog.asScala.toList
      assert(entries.nonEmpty,
        s"$n constructed no fence — site list stale?")
      entries.filter(_._2.nonEmpty).map { case (schema, sh) =>
        s"[$n: $schema -> ${sh.mkString(", ")}]"
      }
    }
    assert(bad.isEmpty,
      "shuffle exchange(s) below a fence (eager execution at " +
        s"composition time): ${bad.mkString("; ")}")
  }

  test("streaming faces: last-batch plans across the FULL X registry " +
      "carry no HOF-in-Filter and no repeated kernel in a Filter") {
    // lint parity with the batch whole-surface audits (the r18
    // verdict's #5, widened to the whole registry per the r19
    // verdict's #3): the two alias-substitution traps — a lambda HOF
    // pushed into a Filter, and one graft kernel re-evaluated >= 3×
    // inside one Filter condition — plan per micro-batch through
    // IncrementalExecution, so no batch lint ever sees them. The
    // 3-face pilot of this lint caught X27 re-evaluating PageStats
    // 22× per row on its FIRST run; every constructor in
    // StreamingOps now passes through the same audit, one executed
    // micro-batch each (the audit reads the executed plan — emission
    // is irrelevant, so watermark-held aggregations lint fine).
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import graft.streaming.StreamingOps
    import graft.streaming.StreamingOps._
    import graft.operators.{Classify, CorpusOps, Dedup, DomainOps, IncrementalDedup, Pipeline, Search, Similarity}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(3600_000L * 10 + min * 60_000L)

    def auditLastBatch(name: String,
        q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val exec = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(exec != null, s"$name: no micro-batch executed")
      // HOF-in-Filter, streaming edition of the whole-surface lint
      val plan = exec.executedPlan.toString
      val filterOp = """(?:\*\(\d+\) )?(?:\+- )?Filter[ (]""".r
      val hof = plan.linesIterator
        .filter(l => filterOp.findFirstIn(l.trim).isDefined)
        .filter(_.contains("lambdafunction")).toList
      assert(hof.isEmpty,
        s"$name: HOF inside a Filter in the micro-batch plan:\n" +
          hof.mkString("\n"))
      // kernel-in-pushed-filter: same >= 3 rule as the batch lint
      // (1–2 occurrences = a direct gate on a kernel output, legal)
      val offenders = exec.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.collect {
            case e if e.getClass.getName.startsWith("graft.functions.") =>
              e.getClass.getSimpleName
          }.groupBy(identity).collect {
            case (k, occ) if occ.size >= 3 => s"$name: $k x${occ.size}"
          }
      }.flatten
      assert(offenders.isEmpty,
        s"kernel re-evaluated in a micro-batch Filter:\n" +
          offenders.mkString("\n"))
    }

    var qn = 0
    val audited = scala.collection.mutable.ListBuffer[String]()
    def run(name: String, mode: String = "append")(
        mk: => org.apache.spark.sql.Dataset[_]): Unit = {
      qn += 1
      val q = mk.writeStream.format("memory")
        .queryName(s"lintx$qn").outputMode(mode).start()
      try {
        q.processAllAvailable()
        auditLastBatch(name, q)
        audited += name
      } finally q.stop()
    }

    // ---- shared fixtures (sf0.001 artifacts built once) ----
    val hist = Seq(
      (0L, "boiler\nalpha beta. gamma delta. eps zeta."),
      (1L, "boiler\nalpha beta. gamma delta. other text."),
      (2L, "boiler\nalpha beta. gamma delta. third doc."))
      .toDF("doc_id", "text")
    def doc(id: Long, m: Int, t: String) = StreamDoc(id, ts(m), t)
    val sampleText =
      "the quick brown fox jumps over a lazy dog near the river bank. " * 4
    def events(in: MemoryStream[Event]): MemoryStream[Event] = {
      in.addData(Event(1L, ts(0), 1L, "view", 1.0),
        Event(2L, ts(5), 1L, "buy", 2.0),
        Event(3L, ts(10), 2L, "view", 3.0))
      in
    }

    // X1/X1b/X2 window family + X6 dedup over event streams
    run("X1 windowedCounts")(
      StreamingOps.windowedCounts(events(MemoryStream[Event]).toDF()))
    run("X1b slidingCounts")(
      StreamingOps.slidingCounts(events(MemoryStream[Event]).toDF()))
    run("X2a sessionWindowAgg")(
      StreamingOps.sessionWindowAgg(events(MemoryStream[Event]).toDF()))
    run("X2 statefulSessionize")(
      StreamingOps.statefulSessionize(events(MemoryStream[Event]).toDS()))
    run("X6 streamingDedup")(
      StreamingOps.streamingDedup(events(MemoryStream[Event]).toDF()))

    // X3 stream-static enrichment; X5 stream-stream join
    run("X3 enrich")(StreamingOps.enrich(
      events(MemoryStream[Event]).toDF(),
      Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")))
    run("X5 streamStreamJoin")(StreamingOps.streamStreamJoin(
      events(MemoryStream[Event]).toDF(),
      events(MemoryStream[Event]).toDF()))

    // C10 running word count (complete mode: unwatermarked running agg)
    val inWc = MemoryStream[String]
    inWc.addData("alpha beta alpha", "beta gamma")
    run("C10 runningWordCount", mode = "complete")(
      StreamingOps.runningWordCount(
        inWc.toDF().withColumnRenamed("value", "payload")))

    // document-stream faces
    def docStream(texts: String*): MemoryStream[StreamDoc] = {
      val in = MemoryStream[StreamDoc]
      in.addData(texts.zipWithIndex.map { case (t, i) =>
        doc(100L + i, i, t) }.toIndexedSeq: _*)
      in
    }
    run("X7 streamingNearDup")(StreamingOps.streamingNearDup(
      docStream(sampleText, sampleText + " tail", "unrelated words")
        .toDS()))
    run("X8 contaminationScreen")(StreamingOps.contaminationScreen(
      docStream(sampleText).toDS(),
      StreamingOps.referenceIndex(hist.withColumnRenamed(
        "doc_id", "ref_id"))))
    run("X10 streamingLineDedup")(StreamingOps.streamingLineDedup(
      docStream("boiler\nfresh").toDS(),
      CorpusOps.bannedLineFrontier(hist)))
    run("X21 streamingParagraphDedup")(
      StreamingOps.streamingParagraphDedup(
        docStream("boiler\n\nfresh para").toDS(),
        CorpusOps.bannedParagraphFrontier(hist)))
    run("X11 streamingDsirScore")(StreamingOps.streamingDsirScore(
      docStream(sampleText).toDS(), Search.dsirModel(spark, sf)))
    run("X12 streamingSubstringScrub")(
      StreamingOps.streamingSubstringScrub(
        docStream("alpha beta. gamma delta. eps zeta. fresh tail here")
          .toDS(), CorpusOps.sharedWindowFrontier(hist)))
    run("X20 streamingSentenceScrub")(
      StreamingOps.streamingSentenceScrub(
        docStream("alpha beta. fresh sentence here.").toDS(),
        CorpusOps.sharedSentenceFrontier(hist)))
    run("X13 streamingNbClassify")(StreamingOps.streamingNbClassify(
      docStream(sampleText).toDS(), Classify.nbModel(spark, sf)))
    run("X14 streamingLm2Score")(StreamingOps.streamingLm2Score(
      docStream(sampleText).toDS(), Search.lm2Model(spark, sf)))
    run("X19 streamingC4")(StreamingOps.streamingC4(
      docStream(sampleText).toDS(), badWords = Seq("badword")))
    run("X25 streamingQualitySignals")(
      StreamingOps.streamingQualitySignals(docStream(sampleText).toDS(),
        stopWords = Seq("the", "a"), badWords = Seq("badword")))
    run("X15 streamingChunk")(StreamingOps.streamingChunk(
      docStream(sampleText).toDS()))
    run("X26 streamingBloomScreen")(StreamingOps.streamingBloomScreen(
      docStream(sampleText).toDS(),
      Dedup.ngramBloomBuild(
        spark.read.parquet(s"$sf/documents.parquet").limit(20))))
    val phrase = (0 until 13).map(i => s"hv$i").mkString(" ")
    run("X30 streamingHoldoutScreen")(
      StreamingOps.streamingHoldoutScreen(
        docStream(s"quoted $phrase here").toDS(),
        Dedup.ngramFnvKeys(s"pre $phrase post", 13).distinct.sorted))

    // X28 HTML extraction (its own arrival type)
    val inH = MemoryStream[StreamHtml]
    inH.addData(StreamHtml(1L, ts(0), "<p>hello <b>world</b></p>"))
    run("X28 streamingHtmlExtract")(
      StreamingOps.streamingHtmlExtract(inH.toDS()))

    // X29 per-domain boilerplate scrub
    val histSite = Seq(
      (0L, "a.com", "nav\nu zero"), (1L, "a.com", "nav\nu one"),
      (2L, "a.com", "nav\nu two"), (3L, "b.com", "nav\nu three"))
      .toDF("doc_id", "domain", "text")
    val inSite = MemoryStream[StreamSiteDoc]
    inSite.addData(StreamSiteDoc(10L, ts(0), "a.com", "nav\nfresh"))
    run("X29 streamingDomainLineDedup")(
      StreamingOps.streamingDomainLineDedup(inSite.toDS(),
        CorpusOps.bannedDomainLineFrontier(histSite, minDf = 3)))

    // X16/X22 incremental screens over one persisted minhash index
    val incDir = TestDirs.create("graft_lint_incix").toString
    val oldDocs = IncrementalDedup.oldDocs(spark, sf)
    IncrementalDedup.saveIndex(oldDocs, incDir)
    val incIx = IncrementalDedup.loadIndex(spark, incDir)
    run("X16 streamingIncrementalScreen")(
      StreamingOps.streamingIncrementalScreen(
        docStream(sampleText).toDS(), incIx))
    run("X22 streamingIncrementalScreenVerified")(
      StreamingOps.streamingIncrementalScreenVerified(
        docStream(sampleText).toDS(), incIx, oldDocs))

    // X17/X18 ANN faces over one persisted IVF index
    val ivfDir = TestDirs.create("graft_lint_ivf").toString
    Similarity.saveIvfIndex(spark, sf, ivfDir)
    val (centroids, assigned) = Similarity.loadIvfIndex(spark, ivfDir)
    val export = Similarity.ivfCentroidsExport(centroids)
    val qEmb = assigned
      .select(graft.functions.VectorFunctions.unpackFloats(col("emb_bin")))
      .limit(1).collect()
      .head.getSeq[Float](0).toArray
    def vecStream(): MemoryStream[StreamVec] = {
      val in = MemoryStream[StreamVec]
      in.addData(StreamVec(0L, ts(0), qEmb))
      in
    }
    run("X17 streamingAnnScreen")(StreamingOps.streamingAnnScreen(
      vecStream().toDS(), export, assigned))
    run("X18 streamingAnnTopK")(StreamingOps.streamingAnnTopK(
      vecStream().toDS(), export, assigned))

    // X23 URL gate + per-domain cap; X27 composed admission
    val (docsFx, blocklist) = Pipeline.releaseFixture(spark, sf)
    val inUrl = MemoryStream[StreamUrlDoc]
    inUrl.addData(StreamUrlDoc(1L, ts(0), "https://a.com/x"),
      StreamUrlDoc(2L, ts(1), "https://b.com/y"))
    run("X23 streamingDomainGate")(StreamingOps.streamingDomainGate(
      inUrl.toDS(), blocklist))
    val inUrl2 = MemoryStream[StreamUrlDoc]
    inUrl2.addData(StreamUrlDoc(1L, ts(0), "https://a.com/x"),
      StreamUrlDoc(2L, ts(1), "https://a.com/z"))
    run("X23b streamingDomainCap")(StreamingOps.streamingDomainCap(
      inUrl2.toDS()))
    // X27 keeps the pilot's full-corpus feed: the quality-gate
    // conjunction filters on four kernel-derived keep columns — the
    // exact multi-reference predicate shape this lint caught live
    val bits = Dedup.fpBloomBuild(docsFx.filter(col("doc_id") % 5 === 2))
    val rows = docsFx.collect().sortBy(_.getAs[Long]("doc_id"))
      .zipWithIndex.map { case (r, i) =>
        StreamIngestDoc(r.getAs[Long]("doc_id"), ts(i % 50),
          r.getAs[String]("url"), r.getAs[String]("text")) }
    val in27 = MemoryStream[StreamIngestDoc]
    in27.addData(rows.toIndexedSeq: _*)
    run("X27 streamingIngestAdmission")(
      StreamingOps.streamingIngestAdmission(in27.toDS(),
        blocklist, bits, stopWords = Seq("the", "a"),
        badWords = Seq("badword"), cap = 2))

    // staleness guard: a constructor added to StreamingOps without a
    // catalog entry fails here, not silently un-linted. Every PUBLIC
    // `def` in StreamingOps is a face except the batch-side artifact
    // builder(s) named below (private helpers like annTopKTail don't
    // match the two-space `def` pattern).
    val builders = Set("referenceIndex")
    val defLine = """  def (\w+)\(.*""".r
    val faces = scala.io.Source.fromFile(
        "src/main/scala/graft/streaming/StreamingOps.scala",
        "UTF-8").getLines()
      .collect { case defLine(n) if !builders(n) => n }.toSeq
    assert(audited.size == faces.size,
      s"StreamingOps has ${faces.size} face constructors but the " +
        s"lint catalog audited ${audited.size} — add the new face " +
        s"here. Constructors: ${faces.mkString(", ")}; audited: " +
        audited.mkString(", "))
  }
}
