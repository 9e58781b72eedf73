package graft.tools

import java.nio.file.{Files, Paths}

/** Dev artifact generator: dumps `explain("formatted")` physical plans of
  * the headline queries to PLANS.md — committed plan evidence for the
  * shapes the test suite pins (broadcasts broadcast, top-k avoids global
  * sorts, scans prune and push, WindowGroupLimit fires, no all-pairs
  * joins in dedup).
  *
  * Usage: sbt "runMain graft.tools.DumpPlans <sfDir> <outFile> [names...]"
  */
object DumpPlans {
  private val Headline = Seq(
    "a6_event_filter",     // pushdown + pruning into the parquet scan
    "c03_tpch_q3",         // join order + partial aggregation + top-k
    "c01_tpch_q19",        // OR-of-conjuncts extracted to a hash join
    "c06_tpch_q5",         // star join with broadcast dims
    "c09_asof_join",       // WindowGroupLimit rank-1 pushdown
    "c10_agg_hash",        // partial+final HashAggregate pair
    "c19_topk",            // TakeOrderedAndProject
    "d1_exact_dedup",      // single-shuffle keyed dedup
    "d2_neardup_minhash",  // banded LSH, no BNLJ/cartesian
    "d4_topk_bruteforce",  // broadcast query vector
    "d7_group_sample",     // WindowGroupLimit on the stratified sampler
    "b10_funnel",          // join-free conditional-min window cascade
    "c36_recursive_cte",   // UnionLoop: bounded recursion + one agg + small join
    "b13_cep_match",       // two as-of steps, rank-1 per step (WindowGroupLimit ×2)
    "d9_triangle_count",   // degree-oriented wedge join over checkpointed edges
    "c38_cdc_apply",       // MERGE: delta-only WindowGroupLimit + snapshot anti-join
    "d2_memorization_risk", // JVM shingle fingerprints; hash aggs, no per-key window
    "c38_cdc_changes",     // manifest-diff-pruned scans + keyed full-outer diff
    "d3_silhouette",       // whole-vector ObjectHashAggregate centroids, native L2, no Generate
    "d3_dim_stats",        // vector sum + limb-pair square sums in ONE global buffer
    "c03_join_bucketed",   // co-bucketed SMJ: zero Exchange, zero Sort on the join key
    "c37_cbo_reorder",     // CostBasedJoinReorder on catalog ANALYZE stats
    "c38_cdc_spj",         // storage-partitioned store⋈store: zero Exchange on the key
    "c38_cdc_cat_lookup",  // IN panel pushed into the V2 scan: bucket-pruned point read
    "c38_cdc_cat_dpp",     // runtime key panel (DPP) prunes store buckets at execution
    "c38_cdc_merge_sql",   // post-MERGE snapshot serve (statement plans below)
    "c38_cdc_feed_table",  // version-pruned CDF read through the feed scan
    "c38_cdc_feed_compact", // CDF served THROUGH a compacted segment (units model)
    "c38_cdc_stats_agg",   // MIN/MAX/COUNT folded from parquet footer statistics
    "c38_cdc_feed_stats",  // feed monitoring aggregates from FINE-GRAINED v= footers
    "c38_cdc_feed_stats_compact", // same aggregates folded from a COMPACTED segment's footers
    "c38_cdc_history",     // DESCRIBE HISTORY from manifest metadata (no data files)
    "c38_cdc_mor",         // merge-on-read serve: per-bucket base+delta fold in the V2 scan
    "c38_cdc_mor_compact", // post-compaction serve: fold paid once, clean bucket reads
    "c38_cdc_split",       // lazily-split store serve: sliced row-path children + native buckets
    "c39_fn_catalog",      // V2 catalog functions planned as codegen Invoke calls
    "d4_margin_mining"     // one broadcast cross product, two window exchanges, no join-back
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out   = args.lift(1).getOrElse("PLANS.md")
    val names = if (args.length > 2) args.drop(2).toSeq else Headline
    val spark = graft.GraftSession.local(4, "graft-dumpplans")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Headline physical plans\n\n")
    sb.append(s"Generated by `graft.tools.DumpPlans` over `$sfDir`.\n")
    sb.append("Regenerate: `sbt \"runMain graft.tools.DumpPlans <sfDir> PLANS.md\"`.\n")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    // Row-level DML (UPDATE / MERGE INTO) plans: the serving query's own
    // plan is just the post-merge snapshot read, so EXPLAIN the statement
    // itself — WriteDelta over the store's bucket-pruned scan, with the
    // source joined in (plans only, executes nothing).
    if (names.contains("c38_cdc_merge_sql")) {
      graft.SparkEntry.queries("c38_cdc_merge_sql")(spark, sfDir).collect()
      val tbl = "graft.cdc_merge_" + sfDir.replaceAll("[^A-Za-z0-9]", "_").toLowerCase
      // file-backed source (a literal would constant-fold the join away):
      // the MERGE plan shows the delta-DML runtime filter riding the
      // source broadcast into the target scan (DeltaDmlRuntimeFiltering)
      val srcDir = Files.createTempDirectory("graft_dml_src").toString
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      Seq((1L, "x", 1, 1.0, "m", "hot"), (2L, "y", 2, 2.0, "m", "cold"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment", "tag")
        .write.mode("overwrite").parquet(srcDir)
      spark.read.parquet(srcDir).filter(col("tag") === "hot").drop("tag")
        .createOrReplaceTempView("dml_plan_src")
      Seq(
        "sql_update_rowlevel" ->
          s"UPDATE $tbl SET c_acctbal = c_acctbal * 2 WHERE c_mktsegment = 'BUILDING'",
        "sql_merge_rowlevel" ->
          s"""MERGE INTO $tbl t USING dml_plan_src s ON t.c_custkey = s.c_custkey
              WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal
              WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
                VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment)"""
      ).foreach { case (label, stmt) =>
        val plan = spark.sql(s"EXPLAIN FORMATTED $stmt").collect()(0).getString(0)
        sb.append(s"\n## $label\n\n```\n").append(plan.trim).append("\n```\n")
      }
      // Metadata-only COUNT(*): the pushed aggregate is answered from the
      // manifest's recorded row counts — the scan line reads
      // "metadata count=N (no file IO)"
      val cplan = spark.sql(s"EXPLAIN FORMATTED SELECT count(*) FROM $tbl")
        .collect()(0).getString(0)
      sb.append(s"\n## sql_count_metadata\n\n```\n").append(cplan.trim).append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
    println(s"[plans] wrote ${names.length} plans to $out")
  }
}
