package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Formatted physical plans, so the partitioning/pushdown/broadcast story
  * is reviewable without running Spark.
  *
  *   - `Explain <sfDir> [outFile]` writes PLANS.md (or `outFile`) for the
  *     [[headline]] set;
  *   - `Explain <sfDir> <outDir> <suffix> <q1,q2,...>` writes one
  *     `<outDir>/<q><suffix>.txt` per named query — the before/after plan
  *     evidence under `plans/rNN/`.
  *
  * Run through `tools/runmain.sh`; PLANS.md is generated with
  * `SPARK_GRAFT_CPUS=32`, so its partition-count literals do not depend
  * on the box.
  */
object Explain {

  val headline: Seq[String] = Seq(
    "q0_flagship_star",      // shuffle join + 3 broadcast dim hops
    "q1_agg",                // pruned scan → partial/final hash agg
    "s1_filtered_scan",      // predicate pushdown + column pruning
    "j12_range_join",        // broadcast interval join
    "j13_interval_lookup",   // grid-cell expansion → broadcast EQUI-join
    "j14_asof_join",         // union + last-non-null window as-of join
    "w1_latest_per_key",     // single-partition-key window
    "dedup_minhash_lsh",     // signature pipeline (df-capped), candidate-only verify
    "sim_ann_ivf",           // k-means refined centroids + cell join
    "glamira_fact_order",    // currency map-joins + fx + dim merge-backs
    "sess_sessionize",       // lag + running-sum session windows
    "dedup_incremental",     // new-batch bands × existing index (no corpus self-pair)
    "skew_salted_agg",       // two-phase salted aggregation on a hot key
    "glamira_stg_order",     // production staging path: unnest + parse + broadcast location join
    "dedup_components",      // banded LSH pair chain feeding label propagation
    "curation_domain_cap",   // salted two-phase exact top-k (WindowGroupLimit)
    "sim_ann_incremental",   // batch signatures × persisted index bucket join
    "curation_c4_pipeline",  // composed curation: map flags + broadcast bounds + one equi-join
    "dedup_semantic",        // IVF cells → within-cell pairs → closure → keep-one
    "er_fuzzy_match",        // capped q-gram multi-block candidates + levenshtein verify + argmin
    "er_entity_clusters",    // blocked pairs over the name universe → components closure
    "curation_token_budget", // (source, hash-part) two-level prefix sum, no full-source sort
    "qa_outliers",           // exact decimal moments broadcast back, no corpus sort-merge
    "glamira_pipeline_e2e",  // full ModelGraph DAG: fact plan over materialized dims
    "s15_jsonl_export",      // sharded JSONL export → typed re-ingest aggregate
    "dedup_span_removal",    // stride-1 window hashes → occurrence join → island merge
    "sim_ann_quantized_rescore", // int8-code candidate join + per-candidate exact fetch
    "approx_heavy_hitters",  // CMS-prefiltered candidates → broadcast semi exact verify
    "text_bm25_topk",        // broadcast query postings → decimal sum → TakeOrdered
    "emb_random_projection", // plan-literal sign folds, map-only
    "sim_ann_ivf_pq",        // shared cell assignment × shared code table × broadcast LUT
    "sim_ann_ivf_coarse",    // two-level O(n·√k) coarse→fine assignment, both centroid tables broadcast
    "sim_ann_ivf_imi",       // three-level O(n·k^(1/3)) descent, sort-free ArgTop2 at every level
    "fusion_rrf",            // BM25 postings ∪ IVF cell probe → 1/(k+rank) fusion of two 20-row lists
    "text_lm_perplexity",    // bigram LM: array-shift zip + count-table equi-joins (window-free)
    "curation_dsir_select",  // hashed-feature domain models (broadcast) + per-doc weight join
    "dedup_keep_best",       // components closure + quality argmax per cluster
    "stream_ann_ingest",     // foreachBatch descent vs published codebook (batch-bounded)
    "curation_cluster_sample", // learned-cluster strata → per-cell quota (WindowGroupLimit)
    "curation_shard_export", // content-hash permutation → two-level prefix sum → shard+ordinal
    "ann_recall_neartwin")   // perturbed-twin corpora → two shared assignments → banded anchored recall

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.length == 3 || args.length > 4) {
      System.err.println(
        "usage: graft.tools.Explain <sfDir> [outFile] | <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val sfDir = args(0)
    val spark = graft.GraftSession.builder().getOrCreate()
    try {
      if (args.length == 4) perQuery(spark, sfDir, args(1), args(2),
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      else plansMd(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
    } finally spark.stop()
  }

  private def perQuery(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val text = plan(graft.SparkEntry.queries(name)(spark, sfDir))
      val p = Paths.get(outDir, s"$name$suffix.txt")
      Files.writeString(p, text)
      println(s"wrote $p (${text.linesIterator.size} lines)")
    }
  }

  private def plansMd(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.Explain` against `$sfDir`. ")
    sb.append("Things to check per plan: `PushedFilters` reaching the scan, ")
    sb.append("`ReadSchema` pruned to referenced columns, `BroadcastHashJoin` ")
    sb.append("on dim joins, no `Exchange` where co-location was promised.\n")
    sb.append(
      """
        |## Spark-version sensitivity of the plan assertions
        |
        |These plans and the plan-shape specs pin some Spark-4 behavior; on a
        |minor-version bump, read failures against this list before touching
        |query code:
        |
        |- **Typed, version-robust by construction**: the optimizer gates
        |  (`j17_skew_join_aqe`, `j18_dynamic_partition_pruning`,
        |  `s16_bucketed_join`, `s18_runtime_bloom_join`) and their negative
        |  controls detect mechanisms via typed plan nodes
        |  (`PlanProbe`: `ShuffledJoin.isSkewJoin`, `DynamicPruning` in
        |  `FileSourceScanExec.partitionFilters`, `BloomFilterMightContain`,
        |  `ShuffleExchangeExec` collect) — a Spark rename breaks COMPILE,
        |  never silently flips a gate.
        |- **Version-specific node names, deliberate**: `PlanShapeSpec`
        |  "salted domain cap" asserts `WindowGroupLimit` (the group-limit
        |  pushdown node, Spark 3.5+). If a later version renames or folds
        |  it, that test fails as a flag that the map-side cap needs
        |  re-verifying — correctness is unaffected (the query is
        |  oracle-gated); re-pin to the renamed node or to a row-count probe
        |  of the pre-exchange stage.
        |- **toString-format-sensitive**: the `glamira_dim_product`
        |  single-parse spec matches the `from_json(StructField(...))`
        |  expression rendering to prove all 13 field reads share ONE parse.
        |  A formatting change breaks the regex loudly (schemas list comes
        |  back empty — the assert fails); the fallback is counting distinct
        |  `JsonToStructs` expressions in the analyzed plan.
        |- **Runtime features pinned to Spark 4**: `x18_variant` uses
        |  VARIANT (`parse_json`/`variant_get`); on Spark < 4 it fails at
        |  analysis, not silently.
        |- **Long-stable markers** (safe across 3.x-4.x): node names
        |  `BroadcastHashJoin`/`SortMergeJoin`/`ShuffledHashJoin`/
        |  `CartesianProduct`/`TakeOrderedAndProject`/`Exchange
        |  hashpartitioning`, scan metadata `PushedFilters:`/`ReadSchema:`.
        |""".stripMargin)
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${plan(graft.SparkEntry.queries(name)(spark, sfDir))}```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${headline.size} plans)")
  }
}
