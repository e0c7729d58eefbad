package graft

import org.apache.spark.sql.functions._

import graft.functions.BingTile

/** Bing tile system (functions/BingTile): quadkey interleave against
  * the published spec example, construct/parse round-trip, parent as
  * quadkey prefix, children as one-digit extensions, tileAt bounds,
  * and envelope nesting.
  */
class BingTileSpec extends SparkSpec {

  test("envelopeCover: tile ranges, clamping, and quadkey round-trip") {
    import spark.implicits._
    val zoom = 4 // 16x16 tiles, 22.5 deg wide
    // box lon [0, 3], lat [0, 3]: x = 8 only (both edges in tile 8);
    // y: lat=0 maps EXACTLY to the 7/8 boundary -> y=8, lat=3 -> y=7
    val r1 = Seq((0.0, 0.0, 3.0, 3.0)).toDF("lo0", "la0", "lo1", "la1")
      .select(explode(BingTile.envelopeCover(
        col("lo0"), col("la0"), col("lo1"), col("la1"), zoom)).as("t"))
      .select(col("t.x"), col("t.y"), col("t.qk"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
    assert(r1.map(t => (t._1, t._2)).toSet == Set((8, 7), (8, 8)))
    assert(r1.forall(_._3.length == zoom))
    // antimeridian-crossing box clamps to the map border, no wrap
    val r2 = Seq((170.0, 0.0, 200.0, 3.0)).toDF("lo0", "la0", "lo1", "la1")
      .select(explode(BingTile.envelopeCover(
        col("lo0"), col("la0"), col("lo1"), col("la1"), zoom)).as("t"))
      .select(col("t.x")).collect().map(_.getInt(0))
    assert(r2.forall(_ == 15))
    // every cover tile's quadkey parses back to its (x, y)
    val cov = Seq((-10.0, -10.0, 40.0, 40.0)).toDF("lo0", "la0", "lo1", "la1")
      .select(explode(BingTile.envelopeCover(
        col("lo0"), col("la0"), col("lo1"), col("la1"), zoom)).as("t"))
      .select(col("t.x"), col("t.y"), col("t.qk"))
    val (rx, ry) = BingTile.tileFromQuadkey(col("qk"), zoom)
    assert(cov.where(rx =!= col("x") || ry =!= col("y")).count() == 0)
    // cover is the full cross product: distinct (x, y), count = dx * dy
    val rows = cov.collect()
    val xs = rows.map(_.getInt(0)).distinct.sorted
    val ys = rows.map(_.getInt(1)).distinct.sorted
    assert(rows.length == xs.length * ys.length)
    assert(xs.last - xs.head + 1 == xs.length && ys.last - ys.head + 1 == ys.length)
  }

  test("envelopeCover: in-plan guard rejects oversized covers and inverted bounds") {
    import spark.implicits._
    def cover(lo0: Double, la0: Double, lo1: Double, la1: Double,
              zoom: Int, cap: Long) =
      Seq((lo0, la0, lo1, la1)).toDF("lo0", "la0", "lo1", "la1")
        .select(BingTile.envelopeCover(
          col("lo0"), col("la0"), col("lo1"), col("la1"), zoom, cap).as("c"))
    // the whole map at zoom 12 is 4096^2 = 16.7M tiles > the reference's
    // 1M cap -> the QUERY fails before the per-row array materializes
    val e1 = intercept[Exception] {
      cover(-180, -85, 180, 85, 12, 1000000L).collect()
    }
    assert(e1.getMessage.contains("envelope cover"), e1.getMessage)
    // inverted lon bounds -> error, not a silent empty cover
    val e2 = intercept[Exception] {
      cover(30, 0, 10, 3, 4, 1000000L).collect()
    }
    assert(e2.getMessage.contains("envelope cover"), e2.getMessage)
    // at the cap boundary the cover still materializes
    assert(cover(-180, -85, 180, 85, 5, 1024L)
      .select(size(col("c"))).head().getInt(0) == 1024)
  }

  test("quadkey matches the published spec example (x=3, y=5, zoom=3 -> 213)") {
    import spark.implicits._
    val r = Seq((3, 5)).toDF("x", "y")
      .select(BingTile.quadkey(col("x"), col("y"), 3).as("qk"))
      .head.getString(0)
    assert(r == "213")
  }

  test("quadkey -> tile -> quadkey round-trips every tile at zoom 5") {
    import spark.implicits._
    val zoom = 5
    val tiles = (0 until 32).flatMap(x => (0 until 32).map(y => (x, y))).toDF("x", "y")
    val qk = tiles.withColumn("qk", BingTile.quadkey(col("x"), col("y"), zoom))
    val (rx, ry) = BingTile.tileFromQuadkey(col("qk"), zoom)
    val bad = qk.where(rx =!= col("x") || ry =!= col("y")).count()
    assert(bad == 0)
    // all 1024 quadkeys distinct and zoom digits long
    assert(qk.select(col("qk")).distinct().count() == 1024)
    assert(qk.where(length(col("qk")) =!= zoom).count() == 0)
  }

  test("parent quadkey is the child's quadkey prefix; children extend by one digit") {
    import spark.implicits._
    val zoom = 6
    val tiles = Seq((17, 42), (0, 0), (63, 63), (31, 5)).toDF("x", "y")
      .withColumn("qk", BingTile.quadkey(col("x"), col("y"), zoom))
      .withColumn("parent_qk",
        BingTile.quadkey(BingTile.parent(col("x")), BingTile.parent(col("y")), zoom - 1))
      .withColumn("children", BingTile.childrenQuadkeys(col("x"), col("y"), zoom))
    val rows = tiles.collect()
    rows.foreach { r =>
      val qk = r.getAs[String]("qk")
      assert(qk.startsWith(r.getAs[String]("parent_qk")))
      val kids = r.getSeq[String](r.fieldIndex("children"))
      assert(kids == Seq(qk + "0", qk + "1", qk + "2", qk + "3"))
    }
  }

  test("tileAt stays in range and the point lies inside its tile's polygon") {
    import spark.implicits._
    val zoom = 10
    val pts = Seq((-85.3, -180.0), (-60.0, -179.999), (0.0, 0.0),
      (47.61, -122.33), (59.99, 179.999), (85.3, 179.0), (-41.3, 174.8))
      .toDF("lat", "lon")
    val t = pts.select(col("lat"), col("lon"),
      BingTile.tileXAt(col("lon"), zoom).as("x"),
      BingTile.tileYAt(col("lat"), zoom).as("y"))
    assert(t.where(col("x") < 0 || col("x") > 1023 || col("y") < 0 || col("y") > 1023).count() == 0)
    val (lonMin, lonMax, latMin, latMax) = BingTile.polygon(col("x"), col("y"), zoom)
    // clamped latitudes (|lat| > 85.05112878) legitimately sit on the
    // boundary tile; all other points must be strictly inside
    val inside = t.where(col("lat").between(-85.0, 85.0))
      .where(col("lon") < lonMin || col("lon") >= lonMax ||
        col("lat") <= latMin || col("lat") > latMax)
    assert(inside.count() == 0)
  }

  test("polygon of a child nests inside its parent's polygon") {
    import spark.implicits._
    val zoom = 8
    val tiles = Seq((100, 37), (255, 255), (0, 128)).toDF("x", "y")
    val (clonMin, clonMax, clatMin, clatMax) = BingTile.polygon(col("x"), col("y"), zoom)
    val (plonMin, plonMax, platMin, platMax) =
      BingTile.polygon(BingTile.parent(col("x")), BingTile.parent(col("y")), zoom - 1)
    val escaped = tiles.where(
      clonMin < plonMin || clonMax > plonMax || clatMin < platMin || clatMax > platMax)
    assert(escaped.count() == 0)
  }

  test("streaming spatial rollup keyed by tile: stream == batch") {
    // the tile id is the streaming spatial bucketing key (the claim in
    // functions/BingTile's scale notes): per-tile counts over a
    // MemoryStream must equal the batch rollup of the same points
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val zoom = 7
    val pts = (1 to 400).map { i =>
      (i.toLong, -80.0 + (i * 37 % 160), -179.0 + (i * 53 % 358))
    }
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .select(BingTile.quadkey(
        BingTile.tileXAt(col("lon"), zoom),
        BingTile.tileYAt(col("lat"), zoom), zoom).as("tile"))
      .groupBy("tile").count()
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, Double)]
    stream.addData(pts.take(150))
    val q = rollup(stream.toDF().toDF("id", "lat", "lon"))
      .writeStream.format("memory").queryName("tile_rollup")
      .outputMode("complete").start()
    try {
      stream.addData(pts.drop(150))
      q.processAllAvailable()
      val streamed = spark.table("tile_rollup").orderBy("tile").collect().toSeq
      val batch = rollup(pts.toDF("id", "lat", "lon")).orderBy("tile").collect().toSeq
      assert(streamed == batch)
      assert(streamed.map(_.getLong(1)).sum == 400)
    } finally q.stop()
  }

  test("tilesAround clips at corners (4), edges (6), interior (9) and contains self") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val zoom = 4
    val n = 1 << zoom
    // all 256 tiles at zoom 4 — every clipping case exercised
    val tiles = (for (x <- 0 until n; y <- 0 until n) yield (x, y)).toDF("x", "y")
    val rows = tiles.select(col("x"), col("y"),
      graft.functions.BingTile.quadkey(col("x"), col("y"), zoom).as("qk"),
      graft.functions.BingTile.tilesAround(col("x"), col("y"), zoom).as("around"))
      .collect()
    assert(rows.length == n * n)
    rows.foreach { r =>
      val (x, y) = (r.getInt(0), r.getInt(1))
      val around = r.getSeq[String](3)
      val onX = x == 0 || x == n - 1
      val onY = y == 0 || y == n - 1
      val expected = (if (onX) 2 else 3) * (if (onY) 2 else 3)
      assert(around.length == expected, s"($x,$y): ${around.length} != $expected")
      assert(around.contains(r.getString(2)), s"($x,$y) missing self")
      assert(around.distinct.length == around.length, s"($x,$y) duplicates")
      assert(around == around.sorted, s"($x,$y) not sorted")
    }
  }

  test("TileCover kernel == HOF formulation on randomized and boundary boxes") {
    import spark.implicits._
    // deterministic pseudo-random boxes spanning clamped latitudes,
    // antimeridian-clipped longitudes, degenerate (point) boxes, and
    // tile-boundary-exact coordinates
    val rng = new scala.util.Random(42)
    val boxes = (Seq(
      (0.0, 0.0, 3.0, 3.0), (170.0, 0.0, 200.0, 3.0),
      (-200.0, -90.0, 200.0, 90.0), (-10.0, -10.0, 40.0, 40.0),
      (12.5, -85.5, 12.5, 88.0), (0.0, 0.0, 0.0, 0.0),
      (-180.0, -85.05112878, -180.0, 85.05112878),
      (22.5, -40.0, 45.0, 0.0)) ++
      (1 to 60).map { _ =>
        val lo = rng.nextDouble() * 360 - 180
        val la = rng.nextDouble() * 170 - 85
        (lo, la, lo + rng.nextDouble() * 4, la + rng.nextDouble() * 3)
      }).toDF("lo0", "la0", "lo1", "la1")
    // zoom 11 excludes the whole-map box (2048^2 tiles > the 1M cap —
    // both formulations trip the guard there, which the guard test owns)
    for (zoom <- Seq(3, 8, 11)) {
      val in = if (zoom <= 8) boxes
        else boxes.where(col("lo1") - col("lo0") < 180.0)
      val both = in.select(
        BingTile.envelopeCover(col("lo0"), col("la0"), col("lo1"), col("la1"), zoom).as("k"),
        HofOracles.envelopeCoverHof(col("lo0"), col("la0"), col("lo1"), col("la1"), zoom).as("h"))
      assert(both.where(not(col("k") <=> col("h"))).count() == 0,
        s"kernel/HOF cover drift at zoom $zoom")
    }
  }
}
