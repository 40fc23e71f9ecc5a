package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.engine.Headline

/** Writes PLANS.md: `explain(formatted)` for the headline job and a
  * representative query set, so plan-shape regressions (lost pushdown,
  * broken whole-stage codegen, surprise shuffles) are reviewable in the
  * repo. Run: `sbt "runMain graft.tools.PlanDump"`.
  */
object PlanDump {

  private val picks = Seq(
    "q01_agg_sum", "q02_filter_project", "q04_dim_join", "q07_rowid",
    "q16_pivot_wide", "q18_stratified_exactn", "q21_pip_region",
    "q22_decode_zonal", "q25_wide_features", "q27_h3_partition",
    "q32_tile_knn_context", "q36_zonal_pyramid", "q38_manifest_wide",
    "q39_wkt_pip", "q45_lsh_candidates", "q47_ann_topk", "q52_ann_ivf",
    "q54_jaccard_neardup", "q56_dedup_components", "q57_shp_pip",
    "q58_stratified_min40", "q59_neardup_bucketed", "q60_sessionize",
    "q61_bpe_tokens", "q63_asof_join", "q64_json_extract",
    "q65_shp_pip_holes", "q66_shp_dbf_pip", "q67_s2_cell",
    "q68_s2_partition", "q69_s2_neighbor_join", "q70_span_dedup",
    "q71_span_scrub", "q72_pip_covered", "q74_image_resize",
    "q75_goode_chain", "q76_media_stats", "q77_phash_neardup",
    "q78_phash_clusters", "q79_frame_sample", "q80_interval_join",
    "q81_audio_windows", "q82_audio_resample", "q83_audio_neardup",
    "q84_hll_registers", "q85_video_neardup", "q86_bloom_pruned_join",
    "q87_zorder_layout", "q89_ann_ivfpq", "q90_caption_consolidate",
    "q91_cm_sketch", "q92_bucketed_join", "q93_focal_halo",
    "q94_decontaminate", "q95_domain_cap", "q96_seq_packing",
    "q97_token_budget", "q98_sobel_gradient", "q99_majority_filter",
    "q100_rep_filter", "q101_strat_split", "q102_bbox_join",
    "q103_class_balance", "q104_tile_sharpness", "q105_robust_scale",
    "q106_inverted_topk", "q107_rollup_report", "q108_snapshot_diff",
    "q110_qsketch", "q111_hist_equalize", "q112_geo_nearest",
    "q113_polygon_metrics", "q114_gapfill_locf", "q116_weighted_sample",
    "q117_skyline", "q118_group_trend", "q120_idw_interpolate",
    "q121_triangle_count", "q123_line_rasterize", "q124_bm25_topk",
    "q125_funnel", "q126_flow_dir", "q130_image_flip", "q131_contour",
    "q132_kmeans", "q133_scd2_apply", "q134_chi2_rank",
    "q135_border_detect", "q136_cube_report", "q137_transitions",
    "q138_retention", "q139_autocrop", "q141_hillshade",
    "q142_morph_open", "q143_alpha_mix", "q144_upsample2x",
    "q145_glcm_texture", "q146_geohash", "q147_integral_image",
    "q148_box_nms", "q149_geojson_pip", "q150_moran_i",
    "q151_template_match", "q152_local_moran", "q153_otsu_threshold",
    "q154_semivariogram", "q155_mann_kendall", "q156_harris_corners",
    "q157_geary_c", "q158_gaussian_blur", "q159_box_counting",
    "q160_edge_density", "q161_pixel_trend", "q162_orientation_hist",
    "q163_median_filter", "q164_hist_match", "q165_viewshed",
    "q167_rle_stats", "q168_haar_energy", "q169_overlay_area",
    "q170_zonal_weighted", "q171_tabulate_intersect", "q172_convex_hull",
    "q173_farthest_pair", "q174_closest_pair", "q175_distance_transform",
    "q176_dissolve_union_area", "q177_segment_intersect",
    "q178_snap_to_segment", "q179_lbp_texture", "q180_quadtree_agg",
    "q181_staypoints", "q182_colocation_join", "q184_convoy_runs",
    "q185_home_range", "q187_moving_window", "q188_track_hausdorff",
    "q189_repeat_visits", "q190_euler_characteristic",
    "q191_point_extract", "q192_confusion_matrix", "q193_affine_warp",
    "q194_fill_rules", "q195_unpivot", "q196_grouping_sets",
    "q197_rank_windows", "q198_intersect_except", "q199_heavy_hitters",
    "q200_incremental_agg")
  // q186 is omitted: its plan is q39's shape verbatim (the WKB layer
  // only changes which codec built the broadcast polygons).
  // q183 is omitted like q119/q56: its registered plan ends in the
  // Components min-label loop's checkpoint scan — the audit-worthy
  // shapes (ONE 3×3 cell-bucket join feeding both the neighbor count
  // and the core-core edge frame; broadcast core/label frames) are
  // documented in the q183 header and pinned by the driver oracle.
  // q166 is omitted for q140's reason below (the clump labels truncate
  // before the props aggregation).
  // q140 is omitted like q119/q56 (its Components loop truncates, so
  // the registered plan is a post-checkpoint join + aggregate); the
  // audit-worthy level-1 shape — ONE tile-keyed Exchange, the per-tile
  // union-find inside the aggregation's output projection, perimeter-
  // filtered boundary frames — is documented in engine/Clump's header
  // and pinned by ClumpSpec's flat-flood-fill equality. q141 IS dumped:
  // its zero-shuffle stencil projection is the audit-worthy shape.
  // q132's dumped plan is the FINAL assignment projection — the
  // audit-worthy shape (argmin as a when-chain of fitted centroid
  // literals, no join, no extra exchange); the per-round fit jobs run
  // driver-side like q88/q109's refinement passes and share the same
  // one-partial-aggregated-exchange shape, documented in KMeans's
  // header and pinned by KMeansSpec.
  // q122 is omitted like q115/q119: MinPlus runs on Fixpoint.rounds,
  // whose last round always ends in a Checkpoint.truncate, so the
  // registered plan is a scan of the final checkpointed distances — the
  // per-round shape (edge join, then ONE partial-aggregated MIN over
  // the union of the running frame and the proposals; no fold-back
  // join) is documented in MinPlus's header and pinned by GraphGeoSpec's
  // partitioning-invariance test. q127/q128 are omitted for the same
  // reason (q128's pointerDouble runs on Fixpoint.rounds; q127's path
  // doubling truncates its chain before every doubling join); q126 IS
  // dumped — its zero-shuffle single-projection D8 pick is the
  // audit-worthy shape.
  // q109 is omitted like q88: its registered DataFrame is the
  // driver-assembled 12-row result (the grouped refinement jobs run
  // inside engine/Quantile); the interesting per-pass plan shape —
  // bin counts, never values, through the one multiplexed exchange —
  // is documented in Quantile's header and exercised by QuantileSpec.
  // q88 is omitted: its registered DataFrame is the driver-assembled
  // 5-row result (engine/Quantile runs its histogram-refinement jobs
  // internally), so its "plan" would be a bare LocalTableScan — the
  // interesting plans are the per-pass groupBy histograms, whose
  // shuffle-bin-counts-not-values shape is documented in Quantile's
  // header and exercised by QuantileSpec.
  // q115 is omitted: PageRank runs on Fixpoint.rounds, whose last
  // round always ends in a Checkpoint.truncate, so the registered
  // DataFrame's plan is a bare scan of the final checkpointed ranks —
  // the interesting per-round two-shuffle shape (ranks-join-edges,
  // groupBy(dst), broadcast dangling share) is documented in PageRank's
  // header and pinned by GraphGeoSpec's partitioning-invariance test.
  // q119 is omitted for the same reason (the Components min-label loop
  // checkpoints, like q56/q78): the registered plan would show only the
  // final hot-join-labels aggregate over a checkpoint scan.
  // q129 is omitted for the same reason (Simplify.dpRounds runs on
  // Fixpoint.rounds, which truncates after the last split round): the
  // per-round shape — one partial-aggregated argmax exchange + a
  // broadcast winners join, the vertex frame itself never exchanged — is
  // documented in Simplify's header and pinned by SimplifySpec's
  // convergence-vs-scalar-DP test.

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(cores = 4,
      conf = Map("spark.sql.adaptive.enabled" -> "false"))

    val sb = new StringBuilder
    sb ++= "# PLANS — physical plan audit (explain formatted)\n\n"
    sb ++= "Generated by `graft.tools.PlanDump` (AQE off so the static\n"
    sb ++= "plan is visible). Things to check per plan: filters/pruning\n"
    sb ++= "reach the scan (`PushedFilters`, `ReadSchema`), small dims\n"
    sb ++= "broadcast, WholeStageCodegen spans cover the hot path, no\n"
    sb ++= "unexpected Exchange.\n"

    // q89's fitted codebooks / SDC lookup tables ride the plan as
    // typedlit arrays (hundreds of doubles per literal) — structure,
    // not values, is what a plan audit reads, so long numeric array
    // literals are elided with their element count kept
    val longArrayLit =
      """\[(-?\d+(?:\.\d+)?(?:E-?\d+)?,){15,}-?\d+(?:\.\d+)?(?:E-?\d+)?\]""".r
    def squash(plan: String): String =
      longArrayLit.replaceAllIn(plan,
        m => s"[…${m.group(0).count(_ == ',') + 1} numeric literals elided…]")

    def section(name: String, plan: => String): Unit = {
      sb ++= s"\n## $name\n\n```\n"
      sb ++= squash(plan.trim)
      sb ++= "\n```\n"
    }

    Headline.ensureTiles(spark)
    val trees = Headline.loadOrFitTrees(spark)
    section("headline (H3 + PIP + classify + salted zonal)",
      Headline.plan(spark, trees).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))

    val qs = SparkEntry.queries
    picks.foreach { name =>
      section(name, qs(name)(spark, "/root/testdata/sf0.01")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
