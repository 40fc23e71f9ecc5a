package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Result parity of registry queries between the session's defaults
  * and one conf switch, rows compared as multisets at sf0.001.
  *
  * AQE on vs off, for the queries whose operator internals round 6
  * touched (D8Pick, Components union-find seeding, Expand's accumulator
  * convergence, TopK.PairAgg, MannKendall): the bench sweep runs AQE ON
  * (Spark 4 default) while the scaling-ladder workers run AQE OFF, so a
  * result that depended on adaptive re-planning (or on captured
  * partitioning only one mode preserves) would ship green in one
  * surface and wrong in the other.
  *
  * Generated code vs interpreted, for the kernels on the
  * [[graft.sql.StaticCall]] bases: their Java is rendered from the
  * constants list while `nullSafeEval` passes the constructor fields,
  * so a constant out of order or rendered wrong shows up as a row
  * difference (or a compile failure) on the codegen side only.
  */
class AqeParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("graft-aqe-parity-test")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sfDir = "/root/testdata/sf0.001"

  private val touched = Seq("q126_flow_dir", "q127_flow_accum",
    "q128_watershed", "q140_patch_clump", "q119_hotspot_clusters",
    "q56_dedup_components", "q53_ann_topk", "q155_mann_kendall",
    "q30_expand_fixpoint", "q115_pagerank")

  /** The 10 most shuffle-intensive UNTOUCHED queries by Exchange
    * mentions in PLANS.md (q89 34, q121 34, q124 32, q52 22, q45 22,
    * q180 22, q125 22, q190 20, q103 20, q54 18), plus q59 whose
    * first-colliding-band gate this round added — VERDICT r05 next #4
    * asked for AQE parity over exactly this set. */
  private val shuffleHeavy = Seq("q89_ann_ivfpq", "q121_triangle_count",
    "q124_bm25_topk", "q52_ann_ivf", "q45_lsh_candidates",
    "q180_quadtree_agg", "q125_funnel", "q190_euler_characteristic",
    "q103_class_balance", "q54_jaccard_neardup", "q59_neardup_bucketed")

  private val aqeOff = Map("spark.sql.adaptive.enabled" -> "false")

  /** The smallest registry set that runs every StaticCall kernel, the
    * kernel(s) each one adds in the comment. */
  private val staticCalls = Seq(
    "q74_image_resize", // DecodeBand, Resize2x
    "q76_media_stats", // MediaStats
    "q79_frame_sample", // FrameStats
    "q85_video_neardup", // FramePhash
    "q75_goode_chain", // GridLatLng
    "q69_s2_neighbor_join", // S2Neighbors
    "q67_s2_cell", // S2Parent (Long literal)
    "q144_upsample2x", // Upsample2x
    "q130_image_flip", // Mirror
    "q135_border_detect", // BorderStats, TileEncode (Boolean, Double)
    "q139_autocrop", // AutoCrop
    "q93_focal_halo", // Focal3x3
    "q98_sobel_gradient", // Sobel3x3
    "q156_harris_corners", // Harris5x5
    "q158_gaussian_blur", // Gauss5x5
    "q160_edge_density", // EdgeStats
    "q163_median_filter", // Median3x3
    "q99_majority_filter", // Mode3x3
    "q167_rle_stats", // RunStats
    "q168_haar_energy", // HaarStats
    "q172_convex_hull", // ConvexHull
    "q179_lbp_texture", // Lbp
    "q175_distance_transform", // Edt
    "q148_box_nms", // GreedyNms
    "q147_integral_image", // Sat
    "q140_patch_clump", // ClumpLocal (Clump.label's per-tile pass)
    "q104_tile_sharpness", // LapStats
    "q111_hist_equalize", // HistEqStats
    "q165_viewshed", // Viewshed
    "q81_audio_windows", // AudioWindowStats
    "q82_audio_resample", // DecimateS16, ClipStatsS16
    "q83_audio_neardup", // AudioFingerprint
    "q54_jaccard_neardup", // SortedInterSize
    "q46_simhash", // SimHash16
    "q100_rep_filter") // RepStats

  private val interpreted = Map("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.keys.foreach(spark.conf.unset)
  }

  /** Each query's rows under the session's defaults vs with `conf`. */
  private def assertParity(names: Seq[String],
      conf: Map[String, String]): Unit = {
    val all = SparkEntry.queries
    def rows(name: String) =
      all(name)(spark, sfDir).collect().map(_.toString).sorted
    names.foreach { name =>
      val base = rows(name)
      val switched = withConf(conf)(rows(name))
      assert(base.length == switched.length,
        s"$name: row count differs with $conf")
      assert(base.sameElements(switched), s"$name: rows differ with $conf")
    }
  }

  test("round-6-touched queries return identical rows with AQE on/off") {
    assertParity(touched, aqeOff)
  }

  test("10 most shuffle-intensive untouched queries (+ q59) return " +
    "identical rows with AQE on/off") {
    assertParity(shuffleHeavy, aqeOff)
  }

  test("StaticCall kernels return identical rows generated and " +
    "interpreted") {
    // generated Java that does not compile must fail the test, not
    // fall back to the interpreted path it is compared with
    withConf(Map("spark.sql.codegen.fallback" -> "false")) {
      assertParity(staticCalls, interpreted)
    }
  }
}
