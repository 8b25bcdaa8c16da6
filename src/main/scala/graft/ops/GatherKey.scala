package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.io.SyntheticGrid.{GridSpec, TileStride, tileId}

/** J4 gather key packed into one long (SURVEY.md §2.3).
  *
  * The gather's natural key `(time: bigint, lat_idx: int, lon_idx: int)`
  * is 128 bits wide, so a broadcast hash join on it builds an
  * `UnsafeHashedRelation` and hashes an UnsafeRow key for every grid row
  * it probes. This encodes the same cell as two 32-bit integers instead:
  *
  *  - time key: `time − t_min`, or on a (time, tile) layout
  *    `(time − t_min)·nTiles + tileOrdinal(tile)`;
  *  - cell key: `lat_idx·nLon + lon_idx`.
  *
  * Two int keys fit one long, so Spark's `HashJoin.rewriteKeyExpr` packs
  * them, builds a `LongHashedRelation` and probes it with a long hash —
  * the integer keys stay compact through the operator (MorphStore,
  * PAPERS.md). The time key reads only partition columns, so Dynamic
  * Partition Pruning still prunes the grid's `time` (and `tile`)
  * partitions.
  *
  * The encoding is one-to-one only inside the geometry's box: a time in
  * `[t_min, t_max]` of `spec.times`, indices inside `[0, nLat)×[0, nLon)`
  * and, when tiled, a tile of that grid. Outside it two cells can share a
  * key (`lon_idx = nLon` reads as the next row's `lon_idx = 0`), so both
  * join sides are filtered with [[inBox]] first. An equi-join on the raw
  * columns implied those bounds; with expression keys they are stated.
  *
  * @param tileSize the tile edge of a `writeGridTiled` layout; `None` for
  *                 a grid without a `tile` column
  */
final case class GatherKey(spec: GridSpec, tileSize: Option[Int]) {
  import GatherKey.Cell

  private val (tMin, tMax) = (spec.times.min, spec.times.max)
  private val tilesLon = tileSize.fold(1)(ts => (spec.nLon + ts - 1) / ts)
  private val nTiles = tileSize.fold(1L)(ts => (spec.nLat + ts - 1L) / ts * tilesLon)
  private val maxTile = tileSize.fold(0L)(ts => (spec.nLat - 1L) / ts * TileStride + (spec.nLon - 1) / ts)

  tileSize.foreach { ts =>
    require(ts > 0, s"tile size must be positive, got $ts")
    require(tilesLon <= TileStride && maxTile <= Int.MaxValue,
      s"a ${spec.nLat}x${spec.nLon} grid in $ts-cell tiles exceeds what SyntheticGrid.tileId encodes")
  }
  require(spec.nLat.toLong * spec.nLon <= Int.MaxValue,
    s"cell key lat_idx*nLon + lon_idx overflows an int on a ${spec.nLat}x${spec.nLon} grid")
  require((tMax - tMin + 1) * nTiles <= Int.MaxValue,
    s"time key overflows an int: times $tMin..$tMax" +
      tileSize.fold("")(_ => s" x $nTiles tiles"))

  private def tile(c: Cell): Column =
    c.tile.getOrElse(tileId(c.latIdx, c.lonIdx, tileSize.get))

  /** Rows whose cell the keys address one-to-one. */
  def inBox(c: Cell): Column = {
    val box = c.time.between(tMin, tMax) &&
      c.latIdx.between(0, spec.nLat - 1) && c.lonIdx.between(0, spec.nLon - 1)
    if (tileSize.isEmpty) box
    else box && tile(c).between(0, maxTile) && tile(c) % TileStride < tilesLon
  }

  /** (time key, cell key) of a cell inside the box. */
  private def keys(c: Cell): Seq[Column] = {
    val dt = c.time - tMin
    val timeKey =
      if (tileSize.isEmpty) dt
      else dt * nTiles + (tile(c) / TileStride).cast("int") * tilesLon + tile(c) % TileStride
    Seq(timeKey.cast("int"), c.latIdx * spec.nLon + c.lonIdx)
  }

  /** Equality of both keys: the gather's join condition. */
  def joinOn(left: Cell, right: Cell): Column =
    keys(left).zip(keys(right)).map { case (l, r) => l === r }.reduce(_ && _)
}

object GatherKey {

  /** The columns that name a grid cell on one join side. `tile` is the
    * layout's tile partition column; it is derived from the indices
    * (`SyntheticGrid.tileId`) when absent, and unused on an untiled grid.
    */
  final case class Cell(time: Column, latIdx: Column, lonIdx: Column,
                        tile: Option[Column] = None)
}
