package perfbench

import java.io.{File, FileInputStream, FileOutputStream, ObjectInputStream, ObjectOutputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Cart
import graft.engine.{Headline, Pipeline}
import graft.sql.GraftFunctions._
import graft.world.World

/** The headline world, materialised inside the benchmark's own work
  * directory, and the plans the workloads time over it.
  *
  * `Headline.plan`, `cellClasses` and `cellLoss` read a fixed table
  * under the system temp dir; the benchmark keeps every file it reads
  * or writes inside its checkout, so it materialises the same table
  * (same generator, same 256 range-partitioned files, same slice
  * directories as `Headline.ensureTiles`) under `dir` and hands it to
  * `Headline.planFrom`. The per-pixel projections `Headline` keeps
  * private are recomposed here from the public `GraftFunctions`, with
  * the same column expressions. */
final class Plans(s: SparkSession, dir: String) {
  private val spec = Headline.spec
  val tilesPath = s"$dir/tiles_${spec.rows}x${spec.cols}x${spec.nBands}_f${Headline.Files}"
  private val treesPath = s"$tilesPath.trees.bin"

  /** Build the tile table unless a complete one is already there.
    * Returns true when it was built. */
  def ensureTiles(): Boolean = {
    if (new File(s"$tilesPath/_SUCCESS").exists()) false
    else {
      World.tilesDF(s, spec)
        .withColumn("slice",
          (col("tile_id") * Headline.Slices / spec.nTiles).cast("int"))
        .repartitionByRange(Headline.Files, col("tile_id"))
        .sortWithinPartitions("tile_id")
        .write.mode("overwrite").partitionBy("slice").parquet(tilesPath)
      true
    }
  }

  /** The tile table, restricted to tile ids in [lo, hi); the slice
    * predicate lets the scan skip the other slice directories. */
  def tiles(lo: Int = 0, hi: Int = spec.nTiles): DataFrame = {
    val t = s.read.parquet(tilesPath)
    def slice(id: Int) = id.toLong * Headline.Slices / spec.nTiles
    if (lo == 0 && hi == spec.nTiles) t
    else t.filter(col("slice").between(slice(lo), slice(hi - 1)) &&
      col("tile_id") >= lo && col("tile_id") < hi)
  }

  /** Same projection as `Headline.fusedCells`: (cell_id, bytes, p). */
  def fusedCells(tiles: DataFrame): DataFrame = {
    val T = spec.tile
    val gr = floor(col("tile_id") / spec.tilesX) * T + floor(col("p") / T)
    val gc = (col("tile_id") % spec.tilesX) * T + col("p") % T
    val exploded = tiles.select(col("tile_id"), col("bytes"),
      explode(sequence(lit(0), lit(spec.pixPerTile - 1))).as("p"))
    val inGrid = if (!spec.padded) exploded
      else exploded.filter(gr < spec.rows && gc < spec.cols)
    inGrid.select((gr * spec.cols + gc + 1).cast("long").as("cell_id"),
      col("bytes"), col("p"))
  }

  def bandCol(b: Int): Column =
    float_at(col("bytes"), col("p") + lit(b * spec.pixPerTile)).cast("double")
  private def pxCol: Column =
    ((col("cell_id") - 1) % spec.cols).cast("double") + 0.5
  private def pyCol: Column =
    floor((col("cell_id") - 1) / spec.cols).cast("double") + 0.5

  /** Fitted trees, cached next to the tile table (same sample and fit
    * as `Headline.fitTrees`). Returns the trees and whether they were
    * fitted now. */
  def loadOrFitTrees(): (Map[(Int, Int), Cart.Tree], Boolean) = {
    val f = new File(treesPath)
    if (f.exists()) {
      val in = new ObjectInputStream(new FileInputStream(f))
      try (in.readObject().asInstanceOf[Map[(Int, Int), Cart.Tree]], false)
      finally in.close()
    } else {
      val cells = fusedCells(tiles().filter(col("tile_id") % 37 === 0))
      val trainLabel =
        when((((col("cell_id") * 13) * World.Knuth) % World.M32) % 64 < 4,
          ((((col("cell_id") * 13 + 1) * World.Knuth) % World.M32) % 7)
            .cast("int") + 1).otherwise(0)
      val cfg = Pipeline.Config()
      val nf = spec.nBands - 1
      val training = cells
        .select(col("*"),
          region_explode(pxCol, pyCol, Headline.polys).as("region_id"))
        .withColumn("tclass", trainLabel)
        .filter(col("tclass") > 0 &&
          !col("tclass").isInCollection(cfg.dropClasses))
        .select(col("region_id") +: col("tclass") +:
          (1 to nf).map(b => bandCol(b).as(s"b$b")): _*)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          (2 until 2 + nf).map(r.getDouble).toArray))
      val trees = Pipeline.fitTrees(training, spec.nRegions, cfg)
      val tmp = new File(s"$treesPath.tmp")
      val out = new ObjectOutputStream(new FileOutputStream(tmp))
      try out.writeObject(trees) finally out.close()
      tmp.renameTo(f)
      (trees, true)
    }
  }

  private def classify(trees: Map[(Int, Int), Cart.Tree]): Column = {
    val cfg = Pipeline.Config()
    val cover = Headline.cover
    driver_classify_at_covered(col("bytes"), col("p"), pxCol, pyCol,
      Headline.polys,
      Cart.PackedForest(trees, spec.nRegions, Pipeline.NumDrivers),
      cover.const, cover.nbx, Headline.CoverB, spec.pixPerTile,
      cfg.lossFloor, cfg.confidenceFloor)
  }

  /** Same frame as `Headline.cellClasses`, over `tiles`. */
  def cellClasses(tiles: DataFrame, trees: Map[(Int, Int), Cart.Tree]): DataFrame =
    fusedCells(tiles).select(col("cell_id"),
      when(bandCol(0) <= 0.0, -1L).otherwise(classify(trees))
        .as("final_class"))

  /** Same frame as `Headline.cellLoss`, over `tiles`. */
  def cellLoss(tiles: DataFrame): DataFrame =
    fusedCells(tiles).select(col("cell_id"), bandCol(0).as("loss"))

  /** The headline ladder: cumulative plans over the same tiles, each
    * adding one layer; the last rung is exactly `Headline.planFrom`.
    * Every rung keeps the payload live (a length or a band read), so
    * column pruning cannot skip the scan a later rung pays for. */
  def ladder(tiles: DataFrame, trees: Map[(Int, Int), Cart.Tree])
      : Seq[(String, DataFrame)] = {
    val cells = fusedCells(tiles)
    val h3 = grid_h3(col("cell_id"), spec.rows, spec.cols, Headline.H3Res)
    Seq(
      "scan" -> tiles.select(col("tile_id"), length(col("bytes")).as("n")),
      "explode" -> cells.select(col("cell_id"), col("p"),
        length(col("bytes")).as("n")),
      "band_read" -> cells.select(col("cell_id"), bandCol(0).as("loss")),
      "h3" -> cells.select(col("cell_id"), h3.as("h3"),
        bandCol(0).as("loss")),
      "pip_vote" -> cells.select(col("cell_id"), h3.as("h3"),
        classify(trees).as("class"), bandCol(0).as("loss")),
      "agg" -> Headline.planFrom(tiles, trees))
  }
}
