package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Bing tile system (reference: geospatial.rst:510-560 `bing_tile`,
  * `bing_tile_at`, `bing_tile_quadkey`, `bing_tile_coordinates`,
  * `bing_tile_polygon`, children/parent; impl
  * presto-geospatial-toolkit/.../BingTileUtils.java — re-derived here
  * from the published Bing Maps Tile System spec, not the reference
  * code).
  *
  * A tile is (x, y, zoom) with x, y ∈ [0, 2^zoom); its quadkey is the
  * base-4 string of the bit-interleave of (y, x) — the same Morton
  * trick as operators/ZOrder, so tiles that are spatially adjacent
  * share quadkey prefixes and a prefix range-scan IS a spatial scan.
  *
  * Everything here is composed from codegen'd built-ins (integer bit
  * arithmetic + one sin/ln for the Mercator projection) — zero UDFs,
  * zero shuffles; at 100 TB the tile id is the natural partition /
  * cluster key for spatial data, exactly how the reference uses it.
  *
  * Cross-engine determinism: quadkey/parent/children/coordinates are
  * pure int64 arithmetic (bit-exact everywhere). tileAt and
  * tilePolygon involve sin/ln/exp/atan, whose last-ulp may differ
  * between libm and java.lang.Math — but a floor() flip would need a
  * point within ~1 ulp of a tile boundary (the boundaries in y are
  * irrational) and the polygon corners are rounded to 6 dp, so the
  * oracle replays both exactly in practice.
  */
object BingTile {

  val MinLatitude = -85.05112878
  val MaxLatitude = 85.05112878

  private def clampLat(lat: Column): Column =
    greatest(lit(MinLatitude), least(lit(MaxLatitude), lat))

  /** Tile x containing a longitude at `zoom` (Bing spec: floor of the
    * linear longitude map, clipped to the valid range).
    */
  def tileXAt(lon: Column, zoom: Int): Column = {
    val n = 1L << zoom
    least(greatest(floor((lon + 180.0) / 360.0 * n), lit(0.0)), lit((n - 1).toDouble))
      .cast("int")
  }

  /** Tile y containing a latitude at `zoom` (Bing spec: floor of the
    * Mercator latitude map, lat clamped to ±85.05112878°).
    */
  def tileYAt(lat: Column, zoom: Int): Column = {
    val n = 1L << zoom
    val s = sin(clampLat(lat) * lit(math.Pi) / lit(180.0))
    val y = (lit(0.5) - log((lit(1.0) + s) / (lit(1.0) - s)) / lit(4.0 * math.Pi)) * n
    least(greatest(floor(y), lit(0.0)), lit((n - 1).toDouble)).cast("int")
  }

  /** The tile's quadkey: zoom base-4 digits, most significant first,
    * digit i = y-bit·2 + x-bit at bit position zoom−i.
    */
  def quadkey(x: Column, y: Column, zoom: Int): Column =
    concat((zoom to 1 by -1).map { i =>
      (shiftright(x, i - 1).bitwiseAND(lit(1)) +
        shiftright(y, i - 1).bitwiseAND(lit(1)) * lit(2)).cast("string")
    }: _*)

  /** Inverse of [[quadkey]]: (x, y) parsed from a zoom-length quadkey. */
  def tileFromQuadkey(qk: Column, zoom: Int): (Column, Column) = {
    val digits = (1 to zoom).map(p => substring(qk, p, 1).cast("int"))
    val x = digits.zipWithIndex
      .map { case (d, i) => d.bitwiseAND(lit(1)) * lit(1 << (zoom - 1 - i)) }
      .reduce(_ + _)
    val y = digits.zipWithIndex
      .map { case (d, i) => shiftright(d, 1).bitwiseAND(lit(1)) * lit(1 << (zoom - 1 - i)) }
      .reduce(_ + _)
    (x, y)
  }

  /** Parent tile coordinate (one zoom level up): drop the low bit. */
  def parent(xy: Column): Column = shiftright(xy, 1)

  /** The four child quadkeys (zoom+1) of the tile with quadkey `qk` —
    * children of a quadkey are exactly its one-digit extensions.
    * Computed from the child tile coordinates (2x+dx, 2y+dy) so the
    * bit arithmetic, not string concat, is what's exercised.
    */
  def childrenQuadkeys(x: Column, y: Column, zoom: Int): Column =
    array((0 to 3).map { d =>
      quadkey(x * 2 + lit(d & 1), y * 2 + lit((d >> 1) & 1), zoom + 1)
    }: _*)

  /** bing_tiles_around (geospatial.rst:510): the 3×3 neighborhood of
    * (x, y) CLIPPED to the map — corner tiles yield 4, edges 6, interior
    * 9; no wraparound (the Bing tile grid is not cyclic in x). Returned
    * as a sorted array of quadkeys so the SET is what callers compare.
    */
  def tilesAround(x: Column, y: Column, zoom: Int): Column = {
    val n = 1 << zoom
    val nbrs = array((for (dx <- -1 to 1; dy <- -1 to 1) yield {
      val xx = x + lit(dx)
      val yy = y + lit(dy)
      when(xx.between(0, n - 1) && yy.between(0, n - 1), quadkey(xx, yy, zoom))
    }): _*)
    array_sort(filter(nbrs, _.isNotNull))
  }

  /** geometry_to_bing_tiles for the ENVELOPE subset (reference:
    * geospatial.rst:510 `geometry_to_bing_tiles`; the general
    * curved-geometry form stays under the documented library-kernel
    * exclusion — a box cover is pure tile-range arithmetic, which is
    * all the repo's rectilinear geometry layer (q154 Envelope algebra)
    * can produce anyway). The tile COVER of the box
    * [lonMin, lonMax] × [latMin, latMax] at `zoom`: the x range is the
    * tiles of the two meridian edges, the y range the tiles of the two
    * parallel edges (Mercator y grows SOUTHWARD, so latMax gives y0),
    * and the cover is their cross product — returned as an array of
    * (x, y, qk) structs for the caller to explode.
    *
    * Guarded in-plan, matching the reference's contract (its
    * geometry_to_bing_tiles THROWS when a cover exceeds 1,000,000
    * tiles — BingTileFunctions.java:281): an assert_true on
    * (x1−x0+1)·(y1−y0+1) ≤ maxTiles fails the QUERY before the per-row
    * array materializes, instead of silently building an
    * executor-OOM-sized array at a wide-box/high-zoom combination.
    * The same assert rejects inverted bounds (lonMin > lonMax or
    * latMin > latMax), which would otherwise produce an empty
    * descending-sequence cover rather than an error. Out-of-map edges
    * clamp to the map border (tileXAt/tileYAt), so a box crossing the
    * antimeridian covers to the border, not wrapping — the reference's
    * behavior for its envelope path. Zero shuffles, zero UDFs:
    * sequence/transform/struct are codegen'd built-ins and [[quadkey]]
    * is integer bit arithmetic (bit-exact cross-engine).
    */
  def envelopeCover(lonMin: Column, latMin: Column, lonMax: Column,
                    latMax: Column, zoom: Int,
                    maxTiles: Long = 1000000L): Column =
    // Native kernel (r18): the earlier HOF formulation is
    // CodegenFallback — every tile of every row walks an interpreted
    // lambda tree, with the quadkey concat expanding to ~4·zoom
    // interpreted sub-expressions per tile (the dominant q213 CPU at
    // the sf1 decade). The kernel computes the identical array (same
    // corner floors in the same IEEE operation order, same guard, same
    // tile order, same quadkey digits) in one compiled pass;
    // BingTileSpec pins kernel == HOF over randomized boxes.
    graft.plans.NativeFunctions.tileCover(lonMin, latMin, lonMax, latMax,
      zoom, maxTiles)

  /** Tile envelope corners in degrees: (lonMin, lonMax, latMin, latMax)
    * — bing_tile_polygon's rectangle. Longitude edges are linear in x;
    * latitude edges invert the Mercator map (atan∘exp).
    */
  def polygon(x: Column, y: Column, zoom: Int): (Column, Column, Column, Column) = {
    val n = (1L << zoom).toDouble
    def lonAt(xt: Column): Column = xt * lit(360.0) / lit(n) - lit(180.0)
    def latAt(yt: Column): Column =
      lit(90.0) - lit(360.0) *
        atan(exp((yt.cast("double") / lit(n) - lit(0.5)) * lit(2.0 * math.Pi))) / lit(math.Pi)
    (lonAt(x), lonAt(x + 1), latAt(y + 1), latAt(y))
  }
}
