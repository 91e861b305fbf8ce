package graft

import graft.operators.{GraphOps, Temporal}
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof join picks the latest right row at or before each left ts") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "c1"),
      (1L, ts("2024-01-01 12:00:00"), "c2"),
      (2L, ts("2024-01-01 09:00:00"), "c3") // before any right row
    ).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 20.0),
      (2L, ts("2024-01-01 09:30:00"), 30.0)
    ).toDF("k", "r_ts", "r_val")
    val out = Temporal.asofJoin(left, right, "k", "ts", "r_ts")
      .collect().map(r => r.getAs[String]("tag") ->
        Option(r.getAs[java.lang.Double]("r_val"))).toMap
    assert(out("c1").contains(10.0)) // 09:30 row, not 11:00
    assert(out("c2").contains(20.0)) // latest at-or-before wins
    assert(out("c3").isEmpty)        // no prior right row -> null payload
  }

  test("asof join is inclusive at equal timestamps") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "c")).toDF("k", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 7.0)).toDF("k", "r_ts", "r_val")
    val out = Temporal.asofJoin(left, right, "k", "ts", "r_ts").collect()
    assert(out(0).getAs[Double]("r_val") == 7.0)
  }

  test("asof join breaks equal-ts right ties by the tie column (latest wins)") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "c")).toDF("k", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 5L, 1.0),
      (1L, ts("2024-01-01 09:00:00"), 9L, 2.0)
    ).toDF("k", "r_ts", "r_id", "r_val")
    val out = Temporal.asofJoin(left, right, "k", "ts", "r_ts",
      rightTie = Some("r_id")).collect()
    assert(out(0).getAs[Long]("r_id") == 9L)
  }

  test("connected components merge chains and keep islands apart") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + island 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val cc = GraphOps.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(cc.size == 6)
  }

  test("connected components of an empty edge set is empty") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(edges, "a", "b").count() == 0)
  }

  test("triangle count handles hubs, dedups edges, drops self-loops") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + hub 5 fanned to 6..9 with one
    // closing edge 6-7 (1 triangle) + duplicate/reversed/self edges
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val hub = Seq((5L, 6L), (5L, 7L), (5L, 8L), (5L, 9L), (6L, 7L))
    val noise = Seq((2L, 1L), (1L, 2L), (5L, 5L))
    val edges = (k4 ++ hub ++ noise).toDF("a", "b")
    val r = GraphOps.triangleCount(edges, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_edges") == 11)
    assert(r.getAs[Long]("n_triangles") == 5)
  }

  test("triangle count of a triangle-free graph is zero") {
    import spark.implicits._
    // star + path: no closed wedge
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L)).toDF("a", "b")
    val r = GraphOps.triangleCount(edges, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_triangles") == 0)
  }

  test("k-core peels cascading tails, keeps the dense core") {
    import spark.implicits._
    // K4 on {1,2,3,4} (its own 3-core) + a tail 4-5-6 whose removal
    // cascades (5 and 6 only reach degree ≥ 1), + pendant 7 on the core
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (1L, 7L)).toDF("a", "b")
    val core = GraphOps.kCore(edges, "a", "b", k = 3)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("deg")).toMap
    assert(core.keySet == Set(1L, 2L, 3L, 4L))
    assert(core.values.forall(_ == 3L)) // K4 degrees inside the core
  }

  test("k-core is empty when no subgraph sustains degree k") {
    import spark.implicits._
    // a tree has no 2-core
    val edges = Seq((1L, 2L), (1L, 3L), (3L, 4L), (3L, 5L)).toDF("a", "b")
    assert(GraphOps.kCore(edges, "a", "b", k = 2).count() == 0)
  }

  test("graph loops: forced shuffle fallback is row-identical to the broadcast regime") {
    import spark.implicits._
    // the 100 TB regime guard: CC labels / pageRank ranks / kCore keeps
    // broadcast only under the vertex-count cap; past it every loop join
    // falls back to shuffles. Force the caps to 0 on a small graph and
    // require identical rows — so the fallback regime's correctness is
    // pinned, not just the broadcast path the bench exercises.
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (1L, 7L), (8L, 9L)).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val ccB = rows(GraphOps.connectedComponents(edges, "a", "b"))
    val prB = rows(GraphOps.pageRank(edges, "a", "b", iters = 5))
    val kcB = rows(GraphOps.kCore(edges, "a", "b", k = 3))
    val shuffle = GraphOps.Regimes(broadcastMaxRows = 0,
      kcoreBroadcastMaxEdges = 0)
    assert(rows(GraphOps.connectedComponents(edges, "a", "b", 20, shuffle)) === ccB)
    assert(rows(GraphOps.pageRank(edges, "a", "b", 5, 0.85, shuffle)) === prB)
    assert(rows(GraphOps.kCore(edges, "a", "b", 3, 50, shuffle)) === kcB)
  }

  test("asof join carries the matched right row wholesale, nulls included") {
    import spark.implicits._
    val right = Seq(
      (1L, 10L, Option(5.0), Option(7.0)),
      (1L, 20L, None, Option(9.0))) // latest row has a legitimately-null a
      .toDF("k", "rts", "ra", "rb")
    val left = Seq((1L, 30L)).toDF("k", "ts")
    val row = Temporal.asofJoin(left, right, "k", "ts", "rts").collect()(0)
    // must be (null, 9.0) from the t=20 row — not (5.0, 9.0) mixed across rows
    assert(row.isNullAt(row.fieldIndex("ra")), row.toString)
    assert(row.getDouble(row.fieldIndex("rb")) == 9.0, row.toString)
  }

  test("connected components converge on string node ids") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("s", "d")
    val comps = GraphOps.connectedComponents(edges, "s", "d")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps("a") == "a" && comps("b") == "a" && comps("c") == "a")
    assert(comps("x") == "x" && comps("y") == "x")
  }

  test("label propagation: disjoint triangles converge to their min labels") {
    import spark.implicits._
    // in a triangle, round 1 sends the two higher nodes to the minimum
    // (tie to smallest), and rounds 2-3 pull the minimum node in too
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val labels = GraphOps.labelPropagation(edges, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L))
    assert(Seq(4L, 5L, 6L).forall(labels(_) == 4L))
  }
}
