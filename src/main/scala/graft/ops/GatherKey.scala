package graft.ops

import org.apache.spark.sql.Column
import graft.io.SyntheticGrid.GridSpec

/** J4 gather key packed into one long (SURVEY.md §2.3).
  *
  * The gather's natural key `(time: bigint, lat_idx: int, lon_idx: int)`
  * is 128 bits wide, so a broadcast hash join on it builds an
  * `UnsafeHashedRelation` and hashes an UnsafeRow key for every grid row
  * it probes. This encodes the same cell as two 32-bit integers instead:
  *
  *  - time key: `time − t_min`;
  *  - cell key: `lat_idx·nLon + lon_idx`.
  *
  * Two int keys fit one long, so Spark's `HashJoin.rewriteKeyExpr` packs
  * them, builds a `LongHashedRelation` and probes it with a long hash —
  * the integer keys stay compact through the operator (MorphStore,
  * PAPERS.md). The time key reads only the `time` partition column, so
  * Dynamic Partition Pruning still prunes the grid's `time` partitions.
  *
  * The encoding is one-to-one only inside the geometry's box: a time in
  * `[t_min, t_max]` of `spec.times` and indices inside
  * `[0, nLat)×[0, nLon)`. Outside it two cells can share a key
  * (`lon_idx = nLon` reads as the next row's `lon_idx = 0`), so both
  * join sides are filtered with [[inBox]] first. An equi-join on the raw
  * columns implied those bounds; with expression keys they are stated.
  */
final case class GatherKey(spec: GridSpec) {
  import GatherKey.Cell

  private val (tMin, tMax) = (spec.times.min, spec.times.max)

  require(spec.nLat.toLong * spec.nLon <= Int.MaxValue,
    s"cell key lat_idx*nLon + lon_idx overflows an int on a ${spec.nLat}x${spec.nLon} grid")
  require(tMax - tMin + 1 <= Int.MaxValue,
    s"time key overflows an int: times $tMin..$tMax")

  /** Rows whose cell the keys address one-to-one. */
  def inBox(c: Cell): Column =
    c.time.between(tMin, tMax) &&
      c.latIdx.between(0, spec.nLat - 1) && c.lonIdx.between(0, spec.nLon - 1)

  /** (time key, cell key) of a cell inside the box. */
  private def keys(c: Cell): Seq[Column] =
    Seq((c.time - tMin).cast("int"), c.latIdx * spec.nLon + c.lonIdx)

  /** Equality of both keys: the gather's join condition. */
  def joinOn(left: Cell, right: Cell): Column =
    keys(left).zip(keys(right)).map { case (l, r) => l === r }.reduce(_ && _)
}

object GatherKey {

  /** The columns that name a grid cell on one join side. */
  final case class Cell(time: Column, latIdx: Column, lonIdx: Column)
}
