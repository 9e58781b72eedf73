package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{CoreQueries, EventQueries, LlmQueries}

/** Physical-plan audits (SURVEY.md §4, the 100 TB discipline): assert the
  * plans Catalyst produces are the plans we want — broadcasts broadcast,
  * top-k avoids global sorts, scans prune columns and push predicates. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("c06: dimension joins plan as BroadcastHashJoin, not SMJ") {
    val p = planOf("c06_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join degraded to sort-merge")
  }

  test("c19: top-k plans TakeOrderedAndProject (no global sort)") {
    val p = planOf("c19_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("a6: filter pushes into the parquet scan; scan prunes columns") {
    val p = planOf("a6_event_filter")
    assert(p.contains("PushedFilters:") && p.contains("In(event_type"), p.take(3000))
    assert(p.contains("GreaterThan(value,50.0)"), "value predicate not pushed")
  }

  test("a2: projection prunes the parquet ReadSchema to selected columns") {
    val p = planOf("a2_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), s"unused column not pruned: $readSchema")
    assert(!readSchema.contains("value"), s"unused column not pruned: $readSchema")
  }

  test("c09: as-of rank=1 plans WindowGroupLimit (per-partition top-1 pushdown)") {
    assert(planOf("c09_asof_join").contains("WindowGroupLimit"),
      "as-of rank=1 not pushed below the window sort")
    // the nearest direction ranks by a computed |Δt| expression — the
    // group-limit pushdown must survive the non-column sort key
    assert(planOf("c09_asof_nearest").contains("WindowGroupLimit"),
      "nearest-as-of rank=1 not pushed below the window sort")
    // c15 deliberately does NOT get the pushdown: its ntile(4) needs the
    // whole partition, which blocks group-limit pruning — that the
    // optimizer declines there is also the correct plan.
    assert(!planOf("c15_window_rank").contains("WindowGroupLimit"))
  }

  test("c10: aggregation plans partial+final HashAggregate pair") {
    val p = planOf("c10_agg_hash")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("b8/d4: broadcast hints survive to the physical plan") {
    assert(planOf("b8_stream_static_join").contains("BroadcastHashJoin"))
    assert(planOf("d4_topk_bruteforce").contains("BroadcastNestedLoopJoin") ||
      planOf("d4_topk_bruteforce").contains("Broadcast"), "query vector not broadcast")
  }

  test("ArcPipeline decode→filter→project is narrow: zero exchanges before the sink") {
    import org.apache.spark.sql.functions.{col, lit}
    val raw = spark.read.parquet(s"$sf/events.parquet").select(col("props").as("payload"))
    val (out, dlq) = graft.operators.ArcPipeline.run(
      raw, col("payload"), graft.operators.ArcPipeline.FilterConfig())
    Seq(out, dlq).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"shuffle in the narrow pipeline:\n${plan.take(1500)}")
    }
  }

  test("ArcPipeline decodes each record once: one fused graft_gunzip_json and no from_json per plan") {
    import org.apache.spark.sql.functions.{col, encode}
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import graft.operators.ArcPipeline
    import spark.implicits._
    // every predicate the filter has, so every conjunct could re-decode
    val cfg = ArcPipeline.FilterConfig(website = Some("site-a"), sectionAllowlist = Seq("news"))
    def count(plan: String, s: String): Int = s.r.findAllIn(plan).length
    def once(what: String, plan: String): Unit = {
      assert(count(plan, "graft_gunzip_json") === 1, s"$what: payload decoded more than once:\n${plan.take(3000)}")
      assert(count(plan, "graft_gunzip(?!_json)") === 0, s"$what: a standalone gunzip:\n${plan.take(3000)}")
      assert(count(plan, "from_json") === 0, s"$what: a from_json beside the fused decode:\n${plan.take(3000)}")
      assert(count(plan, "\\bdecode\\(") === 0, s"$what: a UTF-8 decode beside the fused decode:\n${plan.take(3000)}")
    }
    // records carry binary payloads straight into the decode: the only
    // base64 left is the dead-letter payload, above the decode (plans
    // print top-down, so everything the decode consumes follows it)
    def direct(what: String, plan: String): Unit =
      assert(!plan.substring(plan.indexOf("graft_gunzip_json")).contains("base64"),
        s"$what: base64 round trip ahead of the decode:\n${plan.take(3000)}")
    def plans(out: org.apache.spark.sql.DataFrame, dlq: org.apache.spark.sql.DataFrame) =
      Seq("survivors" -> out.queryExecution.optimizedPlan.toString,
        "dead letters" -> dlq.queryExecution.optimizedPlan.toString)

    val events = spark.read.parquet(s"$sf/events.parquet")
    val (out, dlq) = ArcPipeline.run(events.select(col("props").as("payload")), col("payload"), cfg)
    plans(out, dlq).foreach { case (w, p) => once(s"run $w", p) }
    val (rOut, rDlq) = ArcPipeline.runRecords(events.select(encode(col("props"), "UTF-8").as("payload")), cfg)
    val rPlans = plans(rOut, rDlq)
    rPlans.foreach { case (w, p) => once(s"runRecords $w", p); direct(s"runRecords $w", p) }
    assert(!rPlans.head._2.contains("base64"), "survivors pay a base64 encode")

    implicit val sqlCtx = spark.sqlContext
    def streamed(name: String, df: org.apache.spark.sql.DataFrame, add: () => Unit): String = {
      val q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        add(); q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan.toString
      } finally q.stop()
    }
    val texts = MemoryStream[String]
    val (sOut, _) = ArcPipeline.run(texts.toDF().withColumnRenamed("value", "payload"), col("payload"), cfg)
    once("streaming run", streamed("t_arc_once_run", sOut, () => texts.addData("x")))
    val bins = MemoryStream[Array[Byte]]
    val (sr, _) = ArcPipeline.runRecords(bins.toDF().withColumnRenamed("value", "payload"), cfg)
    val srPlan = streamed("t_arc_once_records", sr, () => bins.addData("x".getBytes("UTF-8")))
    once("streaming runRecords", srPlan)
    direct("streaming runRecords", srPlan)
  }

  test("d2: no dedup query plans an all-pairs join (BNLJ/cartesian)") {
    Seq("d2_ngram_jaccard", "d2_neardup_minhash", "d2_simhash",
        "d9_semantic_clusters_lsh", "d8_payload_dedup").foreach { name =>
      val p = planOf(name)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name degraded to an all-pairs join:\n${p.take(2000)}")
    }
  }

  test("d2_memorization_risk: shingle frequency is a hash agg, never a per-shingle window") {
    // A count window partitioned on the shingle VALUE buffers every
    // occurrence of a hot shingle (corpus boilerplate) on one reducer —
    // an O(N) straggler at scale. The de-skewed form must plan the
    // cross-doc frequency as a partial+final hash agg over the
    // checkpointed explode, with NO Window operator anywhere.
    val p = planOf("d2_memorization_risk")
    assert(!p.contains("Window"), s"per-shingle window reappeared:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "shingle frequency lacks a partial phase")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD") || p.contains("Scan"),
      "exploded stream not materialized once (localCheckpoint missing)")
  }

  test("c38_cdc_apply: changelog rank pushes to WindowGroupLimit; snapshot is never windowed") {
    val p = planOf("c38_cdc_apply")
    // rank=1 over the delta must prune below the sort (a key updated 10⁶
    // times costs its reducer the top row, not the history)...
    assert(p.contains("WindowGroupLimit"), "last-writer rank not pushed below the window sort")
    // ...and the window must be the CHANGELOG's only — the snapshot side
    // contributes a scan + anti-join, nothing per-key
    assert("\\bWindow\\b".r.findAllIn(p).length <= 2, // Window + WindowGroupLimit spans
      s"snapshot side acquired a window:\n${p.take(2000)}")
    assert(p.contains("LeftAnti"), "untouched-keys path lost its anti-join")
  }

  test("b14_stream_stream_semi: plans a keyed semi-join, never BNLJ/cartesian") {
    val p = planOf("b14_stream_stream_semi")
    assert(p.contains("LeftSemi"), s"semi join degraded:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "stream-stream semi twin degraded to an unkeyed join")
  }

  test("d8 container walks: shuffle-free narrow scans up to the final sort") {
    Seq("d8_video_meta", "d8_audio_meta").foreach { name =>
      val p = planOf(name)
      // one range exchange for the orderBy is expected; nothing else
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$name: header parse acquired a shuffle:\n${p.take(2000)}")
    }
  }

  test("rebalanceForCpu: no-ops on well-partitioned input, repartitions an under-split one") {
    import org.apache.spark.sql.functions.col
    val cores = spark.sparkContext.defaultParallelism
    // well-split: at least half the cores → returned UNCHANGED (same plan
    // object, no Exchange) — the 100 TB contract: real inputs with many
    // splits never pay a rebalance exchange
    val wide = spark.range(1000).repartition(cores).toDF()
    val keptWide = graft.tables.Tables.rebalanceForCpu(wide)
    assert(keptWide eq wide, "well-partitioned input was rebalanced")
    // under-split: 1 partition on a multi-core session → spread out
    if (cores >= 2) {
      val narrow = spark.range(1000).coalesce(1).toDF()
      val spread = graft.tables.Tables.rebalanceForCpu(narrow)
      assert(spread.rdd.getNumPartitions === cores,
        s"under-split input not spread: ${spread.rdd.getNumPartitions} of $cores")
      assert(spread.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq === (0L until 1000L),
        "rebalance changed the data")
    }
  }

  test("runBuildUnits: runs every unit, preserves intra-unit order, fails fast with the unit's own exception") {
    // all units run (any interleaving), each unit's internal chain stays
    // ordered — the invariant the parallel artifact prebuild rests on
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val chain = new java.util.concurrent.CopyOnWriteArrayList[String]()
    graft.tables.Tables.runBuildUnits(Seq(
      () => { chain.add("a1"); chain.add("a2"); ran.add("a"); () },
      () => { ran.add("b"); () },
      () => { ran.add("c"); () },
      () => { ran.add("d"); () },
      () => { ran.add("e"); () }
    ))
    assert(ran.size === 5, s"not every unit ran: $ran")
    assert(chain.indexOf("a1") < chain.indexOf("a2"), "intra-unit order broken")
    // a failing unit propagates its own exception type (not a wrapped
    // ExecutionException) so callers see the same failure the sequential
    // build raised
    val boom = intercept[IllegalStateException] {
      graft.tables.Tables.runBuildUnits(Seq(
        () => (),
        () => throw new IllegalStateException("unit failed")
      ))
    }
    assert(boom.getMessage === "unit failed")
  }

  test("d7_token_budget: hierarchical-prefix plan — corpus shuffles bounded, offsets broadcast") {
    val p = planOf("d7_token_budget")
    assert(p.contains("Window"), p.take(2000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"unused columns not pruned: $readSchema")
    // The hierarchical prefix (Mixture.withPrefixBefore) plans: one
    // CORPUS-sized hash exchange for the (slice, sub-shard) window, the
    // final orderBy range exchange, and the dimension-sided offset
    // exchanges (post-partial-agg rows = slices × subShards, then one
    // broadcast back). The offsets must reach the corpus as a BROADCAST —
    // an SMJ here would re-shuffle the corpus a second time.
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 6, p.take(3000))
    assert(p.contains("BroadcastHashJoin"), "offset lift degraded to a corpus-side shuffle join")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "offset counts lack a map-side partial phase")
    // Every other withPrefixBefore consumer keeps the same contract: the
    // offset table reaches the corpus as a broadcast, never an SMJ.
    Seq("d7_seq_packing", "d7_global_shuffle", "d7_curriculum").foreach { name =>
      val q = planOf(name)
      assert(q.contains("BroadcastHashJoin"), s"$name: offset lift not broadcast")
      assert(!q.contains("SortMergeJoin"), s"$name: offset lift degraded to sort-merge")
    }
  }

  test("d2_source_overlap: union-sketch UDAF aggregates with a partial (map-side) phase") {
    val p = planOf("d2_source_overlap")
    // typed Aggregator UDAF plans as ObjectHashAggregate/SortAggregate with
    // partial + final modes — the mergeable-sketch property doing its job.
    assert(p.contains("Aggregate"), p.take(2000))
    assert(p.contains("partial_minhashsketchaggregator") || p.contains("partial_"),
      s"no partial aggregation phase — sketch would shuffle raw rows:\n${p.take(3000)}")
  }

  test("d3 centroid family: whole-vector aggregation — no explode below the aggregate") {
    // the old shape exploded every d-dim vector into d rows BEFORE the agg
    // (a d× blowup through the hash map); the VectorAgg rewrite aggregates
    // whole arrays and unpacks only the aggregated rows. Audit: silhouette
    // has NO Generate at all; slice_centroid/dim_stats may Generate only
    // ABOVE their aggregate (i.e. every Generate's subtree contains it).
    val sil = SparkEntry.queries("d3_silhouette")(spark, sf).queryExecution
    assert(sil.optimizedPlan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }.isEmpty, "d3_silhouette explodes vectors again")
    assert(sil.executedPlan.toString.contains("ObjectHashAggregate"),
      "silhouette centroid sum is not the typed vector aggregator")
    Seq("d3_slice_centroid", "d3_dim_stats", "d3_quant_error", "d3_isotropy").foreach { q =>
      val qe   = SparkEntry.queries(q)(spark, sf).queryExecution
      val gens = qe.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.nonEmpty, s"$q: expected the post-agg unpack Generate")
      gens.foreach { g =>
        assert(g.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
        }.nonEmpty, s"$q: Generate sits below the aggregate (vector explode came back)")
      }
      val p = qe.executedPlan.toString
      assert(p.contains("ObjectHashAggregate"), s"$q: vector-sum UDAF not aggregating")
      assert(p.contains("partial_"), s"$q: no map-side partial for the vector sum")
    }
  }

  test("b9_interval_join_left: bucketed range join is an equi-join, never BNLJ/cartesian") {
    val p = planOf("b9_interval_join_left")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "bucketed interval join degraded to an unkeyed join")
    // The band predicate must ride the equi-join, not a post-join filter of
    // a key-only join: the join key includes the __lbkt/__rbkt bucket.
    assert(p.contains("__lbkt") && p.contains("__rbkt"), p.take(3000))
  }

  test("b9_interval_join_bucketed: inner twin also plans as a bucketed equi-join") {
    val p = planOf("b9_interval_join_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "bucketed interval join degraded to an unkeyed join")
    assert(p.contains("__lbkt") && p.contains("__rbkt"), p.take(3000))
  }

  test("d7_stratified_split: assignment is shuffle-free (sort for output order only)") {
    // The registered query ends in an orderBy (deterministic dump order);
    // the OPERATOR itself must plan with zero exchanges.
    import org.apache.spark.sql.functions.col
    val assignment = graft.operators.Mixture
      .stratifiedSplit(
        graft.tables.Tables.documents(spark, sf), col("doc_id"),
        Seq("train" -> 80, "val" -> 90), "test")
      .select("doc_id", "source", "split")
    val p = assignment.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"split assignment shuffled:\n${p.take(2000)}")
  }

  test("d7_chunking: the chunk generator is narrow — zero exchanges") {
    import org.apache.spark.sql.functions.col
    val chunks = graft.operators.Mixture
      .chunkDocuments(
        graft.tables.Tables.documents(spark, sf), col("doc_id"), col("text"), 64, 48)
    val p = chunks.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking shuffled:\n${p.take(2000)}")
  }

  test("d2_ngram_decontam / d5_lm_score: dimension sides broadcast, not shuffled corpus joins") {
    // Decontam: the eval shingle universe must reach the corpus as a
    // broadcast; LM scoring: the vocab must join as a broadcast. Either
    // degrading to SortMergeJoin means a corpus-sized shuffle at 100 TB.
    val d = planOf("d2_ngram_decontam")
    assert(d.contains("BroadcastHashJoin"), d.take(2000))
    val l = planOf("d5_lm_score")
    assert(l.contains("BroadcastHashJoin"), l.take(2000))
    assert(!l.contains("SortMergeJoin"), "LM vocab join degraded to sort-merge")
    // Bigram LM: every model join (train-time unigram vocab, score-time
    // seen/fallback slices) broadcasts — a sort-merge anywhere here means
    // a corpus- or bigram-table-sized shuffle at 100 TB.
    val b = planOf("d5_lm_bigram")
    assert(b.contains("BroadcastHashJoin"), b.take(2000))
    assert(!b.contains("SortMergeJoin"), "bigram model join degraded to sort-merge")
  }

  test("b10: funnel and retention are join-free — stage/cohort via windows, not join-backs") {
    for (name <- Seq("b10_funnel", "b10_retention")) {
      val p = planOf(name)
      assert(!p.contains("Join"), s"$name plans a join; the window form needs none: " + p.take(2000))
      // One data shuffle on user_id feeds every window pass; the only other
      // exchange is the final rollup (single-row for the funnel, keyed agg
      // for retention).
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges <= 3, s"$name shuffles $exchanges times: " + p.take(2000))
    }
  }

  test("d1_bloom_dedup: sketch probes are map-side filters; one anti-join on the candidate slice") {
    val p = planOf("d1_bloom_dedup")
    assert(p.contains("might_contain"), "bloom probe missing from the physical plan: " + p.take(2000))
    // definite-new rows never join; only the candidate slice does (anti-join),
    // so exactly one join may appear.
    val joins = "Join".r.findAllIn(p).length
    assert(joins === 1, s"expected exactly 1 join, got $joins: " + p.take(3000))
  }

  test("d6_rrf_fusion: both retrieval lists bound via TakeOrderedAndProject before ranking") {
    // The fusion windows must rank k-row lists, never corpus-sized input:
    // the top-k limits have to compile to distributed TakeOrderedAndProject
    // (two lists + the final fused top-k = at least 3 occurrences).
    val p = planOf("d6_rrf_fusion")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 3, p.take(3000))
  }

  test("d5_encode: the vocab joins the exploded corpus as a broadcast") {
    // The vocab is bounded by construction; a SortMergeJoin here would
    // shuffle the corpus-sized token stream against a 100-row table.
    val p = planOf("d5_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("d0_corpus_diff: only (id, hash) crosses the full-outer shuffle — text never moves") {
    // Each snapshot must reduce to (id, sha256) BEFORE the join: the
    // exchanges feeding the full-outer join must not carry the text
    // column (at 100 TB that is the difference between shuffling ~50 B/doc
    // and shuffling the corpus).
    val df = SparkEntry.queries("d0_corpus_diff")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange")).toList
    assert(exchangeLines.nonEmpty, p.take(2000))
    assert(exchangeLines.forall(!_.contains("text")), s"text column shuffled: $exchangeLines")
  }

  test("c23_tpch_q17: correlated scalar-avg subquery decorrelates to aggregate + join") {
    // Catalyst must rewrite the per-part correlated avg into a grouped
    // aggregate joined back on l_partkey — a nested-loop execution of the
    // subquery would re-scan lineitem per outer row.
    val p = planOf("c23_tpch_q17")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "correlated subquery did not decorrelate: " + p.take(3000))
  }

  test("d7_group_sample: per-stratum rank<=20 pushes WindowGroupLimit") {
    // The stratified sampler must prune to ~20 rows per group BEFORE the
    // window shuffle's sort completes — at 100 TB the difference between
    // ranking every doc and ranking a bounded prefix per partition.
    assert(planOf("d7_group_sample").contains("WindowGroupLimit"),
      "stratified sample rank not pushed down")
  }

  test("c01_tpch_q19: disjunctive join predicate still plans a hash join") {
    // All three OR branches share the p_partkey equi-conjunct; Catalyst
    // must extract it and plan hash/broadcast join with the disjunction as
    // a post-join filter — BNLJ here is the classic Q19 planner failure.
    val p = planOf("c01_tpch_q19")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "Q19 degraded to an all-pairs join")
  }

  test("c05_tpch_q4: correlated EXISTS plans a left-semi hash join") {
    val p = planOf("c05_tpch_q4")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "EXISTS did not decorrelate to a semi join")
  }

  test("c23_tpch_q15: max-revenue scalar gate stays an equi join, not all-pairs") {
    val p = planOf("c23_tpch_q15")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("r11 tail additions keep their scale shapes") {
    // ccnet buckets: the LM attaches to the exploded corpus as a
    // broadcast, never a corpus-vs-vocab shuffle join.
    assert(planOf("d5_ccnet_buckets").contains("BroadcastHashJoin"))
    // dim stats: one narrow explode + one partial/final agg pair — a
    // join anywhere means the 64-row key space got mis-planned.
    val dims = planOf("d3_dim_stats")
    assert("HashAggregate".r.findAllIn(dims).length >= 2, dims.take(2000))
    assert(!dims.contains("Join"), dims.take(2000))
    // zipf + interleave + ndcg: every global order is TakeOrdered-bounded
    // (top-200 / top-500 / top-20), never a full-corpus single-partition
    // sort feeding the unpartitioned windows downstream.
    Seq("d5_zipf_fit", "d7_interleave", "d6_ndcg").foreach { name =>
      assert(planOf(name).contains("TakeOrderedAndProject"), name)
    }
    // epoch plan: slice-grain arithmetic joins stay broadcast.
    val ep = planOf("d7_epoch_plan")
    assert(!ep.contains("SortMergeJoin"), ep.take(2000))
  }

  test("r11 late additions keep their scale shapes") {
    // funnel drop-off: same join-free window cascade as b10_funnel — the
    // per-stage pivot rides the single-row aggregate, adding no exchange
    // class beyond the user shuffle + global rollup.
    val fd = planOf("b10_funnel_dropoff")
    assert(!fd.contains("Join"), fd.take(2000))
    assert("Exchange".r.findAllIn(fd).length <= 3, fd.take(2000))
    // edit-distance join: candidate generation joins prefix keys and the
    // verify step joins strings back — equi-joins only; the global
    // no-cartesian guard already forbids the all-pairs shape.
    val ed = planOf("d2_editdist_join")
    assert(ed.contains("Join"), ed.take(2000))
    // dq audit: the five scan-level checks fold into ONE lineitem
    // aggregate — count the lineitem scans: one for the audit pass, one
    // for uniqueness, one for the RI fact side. More means a per-check
    // scan crept in.
    val dq = planOf("c33_dq_audit")
    val lineitemScans = "lineitem".r.findAllIn(dq).length
    assert(lineitemScans <= 6, s"$lineitemScans lineitem mentions: " + dq.take(3000))
    // scd2: join-free — three windows on one key exchange.
    val scd = planOf("c34_scd2_history")
    assert(!scd.contains("Join"), scd.take(2000))
    assert("Exchange".r.findAllIn(scd).length <= 2, scd.take(2000))
  }

  test("r11 third-wave additions keep their scale shapes") {
    // chat pack: window + agg on the same conv key — one exchange class,
    // join-free.
    val cp = planOf("d7_chat_pack")
    assert(!cp.contains("Join"), cp.take(2000))
    assert("Exchange".r.findAllIn(cp).length <= 2, cp.take(2000))
    // hard negatives: anchor panel broadcasts (BNLJ over a 3-row side),
    // and the per-anchor rank<=5 filter pushes WindowGroupLimit so only
    // 5 rows per anchor survive to the rank shuffle.
    val hn = planOf("d6_hard_negatives")
    assert(hn.contains("BroadcastNestedLoopJoin"), hn.take(2000))
    assert(hn.contains("WindowGroupLimit"), hn.take(2000))
    assert(!hn.contains("SortMergeJoin"), "anchor panel degraded to SMJ")
    // length buckets: one hash agg on a ~log2(max_len)-row key space,
    // partial+final (map-side combine) — no join, no window.
    val lb = planOf("d7_length_buckets")
    assert(!lb.contains("Join") && !lb.contains("Window"), lb.take(2000))
    // memorization risk: shingle-key hash agg + semi-join back — the
    // joins are equi-joins on doc_id/shingle, never all-pairs (the
    // global cartesian guard covers the rest).
    val mr = planOf("d2_memorization_risk")
    assert(mr.contains("Join"), mr.take(2000))
    // fertility: bounded vocab broadcasts against the exploded corpus.
    val tf = planOf("d5_tokenizer_fertility")
    assert(tf.contains("BroadcastHashJoin"), tf.take(2000))
    // readability: pure per-row regexp arithmetic — the only exchange is
    // the output sort's.
    val rd = planOf("d5_readability")
    assert(!rd.contains("Join") && !rd.contains("Window"), rd.take(2000))
    // MLM mask: explode + one doc-keyed agg; join-free.
    val mm = planOf("d7_mlm_mask")
    assert(!mm.contains("Join"), mm.take(2000))
    // PRF second pass: feedback ids and per-term df/stats dims all ride
    // broadcasts — the corpus-sized side is never shuffled for a join.
    val pe = planOf("d6_prf_expansion")
    assert(pe.contains("BroadcastHashJoin"), pe.take(2000))
    assert(!pe.contains("SortMergeJoin"), "PRF dim join degraded to SMJ")
  }

  /** The whole board planned once, shared by the two board-wide laws
    * below: each query's executed plan string, or why it failed to plan. */
  private lazy val boardPlans: Seq[(String, scala.util.Try[String])] =
    SparkEntry.queries.toSeq.map { case (name, fn) =>
      name -> scala.util.Try(fn(spark, sf).queryExecution.executedPlan.toString)
    }
  private def unplanned: Seq[String] = boardPlans.collect {
    case (name, scala.util.Failure(e)) => s"$name: $e"
  }

  test("every registered query compiles to a physical plan") {
    assert(unplanned.isEmpty, s"failed to plan: ${unplanned.mkString("; ")}")
  }

  test("no registered query plans a CartesianProduct — anywhere, ever") {
    // The one physical shape with no defensible use on this board: an
    // UNPARTITIONED all-pairs product. BroadcastNestedLoopJoin appears
    // legitimately (single-row scalar gates, broadcast query panels,
    // bounded theta dims — the broadcast side is config-bounded by
    // construction), but a CartesianProduct means two data-sized sides
    // crossed — at 100 TB that plan never finishes. Even the explicit
    // cross join (c08) rides a broadcast of the 5-row dim.
    val offenders = boardPlans.collect {
      case (name, scala.util.Success(p)) if p.contains("CartesianProduct") => name
    }
    // a query that cannot plan cannot be cleared of the shape either
    assert(unplanned.isEmpty && offenders.isEmpty,
      s"CartesianProduct planned in: $offenders; failed to plan: ${unplanned.mkString("; ")}")
  }

  test("r11 continuation wave keeps its scale shapes") {
    // recursive CTE: the spine is a UnionLoop over a one-row frame; the
    // revenue side joins via broadcast (it is month-cardinality).
    val rc = planOf("c36_recursive_cte")
    assert(rc.contains("UnionLoop"), rc.take(2000))
    assert(rc.contains("BroadcastHashJoin"), rc.take(2000))
    // CEP: each as-of step prunes to rank-1 via WindowGroupLimit before
    // the full sort — per-key candidate windows never survive whole.
    val cep = planOf("b13_cep_match")
    assert(cep.contains("WindowGroupLimit"), cep.take(2000))
    assert(!cep.contains("BroadcastNestedLoopJoin"), "as-of degraded to a loop join")
    // query likelihood: the only non-equi join is the 3-row term-grid
    // broadcast; tf attaches by equi-join.
    val ql = planOf("d6_query_likelihood")
    assert(!ql.contains("SortMergeJoin") || ql.contains("BroadcastHashJoin"), ql.take(2000))
    // kNN eval: probe panel broadcasts (BNLJ over the bounded panel);
    // rank<=6 pushes WindowGroupLimit.
    val ke = planOf("d3_knn_eval")
    assert(ke.contains("BroadcastNestedLoopJoin"), ke.take(2000))
    assert(ke.contains("WindowGroupLimit"), ke.take(2000))
    // CDC dedup: explode + ONE per-doc window prefix + aggs; the only
    // join is the per-doc stats attach (equi on doc_id).
    val cdc = planOf("d1_cdc_dedup")
    assert(!cdc.contains("BroadcastNestedLoopJoin"), cdc.take(2000))
    // collocations / snippet: no loop joins; snippet is join-light
    // (window + one doc-keyed equi-join back to the token arrays).
    val sn = planOf("d6_snippet")
    assert(!sn.contains("BroadcastNestedLoopJoin"), sn.take(2000))
    val dist = planOf("c15_window_dist")
    assert(!dist.contains("Join"), dist.take(2000))
  }

  test("c03_bucketed: co-bucketed fact join needs ZERO Exchange and ZERO Sort") {
    import org.apache.spark.sql.functions.col
    val (ord, li) = graft.tables.Warehouse.bucketedPair(spark, sf)
    // The raw join (before the aggregate adds its own group-by exchange):
    // both scans report HashPartitioning(orderkey, 16) + per-file sort
    // order (one file per bucket), so SMJ plans with no shuffle and no
    // sort on EITHER side — the write paid them once, for every future
    // join on this key.
    val j = spark
      .table(ord)
      .hint("merge")
      .join(spark.table(li), col("o_orderkey") === col("l_orderkey"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("Exchange"), s"bucketed join shuffled:\n${p.take(2500)}")
    assert(!p.contains("Sort ["), s"bucketed join re-sorted (bucket sort order not trusted):\n${p.take(2500)}")
    assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n${p.take(2500)}")
    // The registered query's only exchanges are its OWN aggregate +
    // order-by — none on the join key.
    val full = planOf("c03_join_bucketed")
    val joinKeyExchanges = full.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("o_orderkey") || l.contains("l_orderkey"))).toList
    assert(joinKeyExchanges.isEmpty, s"join-key shuffle crept back:\n$joinKeyExchanges")
  }

  test("c38_spj: the bucket-aligned store join plans with ZERO exchange on the join key") {
    // Both DSv2 scans report KeyGroupedPartitioning(bucket(16, key)), so
    // the store⋈store join needs no shuffle on EITHER side; the only
    // exchange in the registered query is its own group-by/order-by.
    val full = planOf("c38_cdc_spj")
    assert(full.contains("BatchScan"), full.take(2000))
    val joinKeyExchanges = full.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") &&
        (l.contains("c_custkey") || l.contains("o_custkey"))).toList
    assert(joinKeyExchanges.isEmpty,
      s"storage-partitioned join shuffled on the key:\n$joinKeyExchanges")
  }

  test("c37: catalog ANALYZE stats reach the optimizer and flip the join order") {
    import org.apache.spark.sql.functions.col
    val (ord, li, cust) = graft.tables.Warehouse.analyze(spark, sf)
    // Stats are visible: rowCount on the analyzed table is the real one.
    // (rowCount only rides plan stats under CBO — like the registered
    // query, which runs in its own CBO-on child session.)
    // A bare `.stats` read resolves SQLConf from the ACTIVE session (the
    // execution paths run under withActive, so the registered query
    // doesn't need this dance — only this direct plan poke does).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.cbo.enabled", "true")
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    val liRows =
      try s2.table(li).queryExecution.optimizedPlan.stats.rowCount
      finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(liRows.isDefined && liRows.get.toLong > 0, s"no rowCount stats on $li")
    def optimizedJoinTree(cbo: Boolean): String = {
      spark.conf.set("spark.sql.cbo.enabled", cbo.toString)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", cbo.toString)
      try {
        // Deliberately worst written order: fact ⋈ fact first, the
        // selective dimension filter last.
        spark
          .table(li)
          .join(spark.table(ord), col("l_orderkey") === col("o_orderkey"))
          .join(
            spark.table(cust).filter(col("c_mktsegment") === "BUILDING"),
            col("o_custkey") === col("c_custkey"))
          .queryExecution.optimizedPlan.toString
      } finally {
        // restore the session default (CBO is scoped to c37's isolated
        // child session, never global — see CoreQueries.c37_cbo_reorder)
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      }
    }
    val before = optimizedJoinTree(cbo = false)
    val after  = optimizedJoinTree(cbo = true)
    assert(before != after,
      s"CostBasedJoinReorder left the worst-order 3-table join untouched:\n${after.take(2500)}")
  }
}
