package graft

import graft.functions.Maps

/** The single-pass mapUnions must agree with the per-aggregate unions it
  * replaces (q110's r6 plan diet), a max-wins union and a sum union,
  * computed here on the driver — same maps, any grouping, ties and
  * disjoint key sets included.
  */
class MapsSpec extends SparkSpec {

  private lazy val maps = {
    import spark.implicits._
    // 40 groups × 3 rows, overlapping small key spaces with collisions
    (1L to 120L).map { i =>
      (i % 40, Map(s"k${i % 5}" -> i, s"k${(i * 7) % 5}" -> (i * 3), s"x$i" -> i))
    }.toDF("g", "m")
  }

  test("mapUnions == mapUnionMax ⋈ mapUnionSum") {
    // per group, per key: every value the group's maps carry
    val values = maps.collect().toSeq
      .flatMap(r => r.getMap[String, Long](1).toSeq.map(kv => (r.getLong(0), kv)))
      .groupBy(_._1).map { case (g, es) =>
        g -> es.map(_._2).groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2) }
      }
    val got = Maps.mapUnions(maps, Seq("g"), "m", "a_max", "a_sum").collect()
    assert(got.length == 40)
    for (r <- got) {
      val vs = values(r.getLong(0))
      assert(r.getMap[String, Long](1).toMap == vs.map { case (k, v) => k -> v.max },
        s"max-wins union, group ${r.getLong(0)}")
      assert(r.getMap[String, Long](2).toMap == vs.map { case (k, v) => k -> v.sum },
        s"sum union, group ${r.getLong(0)}")
    }
  }

  test("duplicate keys resolve max-wins / sum across rows") {
    import spark.implicits._
    val df = Seq((1, Map("a" -> 2L, "b" -> 5L)), (1, Map("a" -> 7L)))
      .toDF("g", "m")
    val r = Maps.mapUnions(df, Seq("g"), "m").collect().head
    assert(r.getMap[String, Long](1) == Map("a" -> 7L, "b" -> 5L))
    assert(r.getMap[String, Long](2) == Map("a" -> 9L, "b" -> 5L))
  }
}
