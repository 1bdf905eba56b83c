package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class AsofJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("attaches the latest right row at-or-before each left time, per key") {
    val left = Seq(
      ("u1", 5L, "l_a"), ("u1", 15L, "l_b"), ("u1", 2L, "l_early"),
      ("u2", 10L, "l_c")).toDF("k", "t", "lv")
    val right = Seq(
      ("u1", 3L, "r1"), ("u1", 10L, "r2"),
      ("u2", 99L, "r_late")).toDF("k", "t", "rv")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", "t", Seq("rv"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> Option(r.getString(3))).toMap
    assert(got(("u1", 5L)) == Some("r1"))   // 3 <= 5 < 10
    assert(got(("u1", 15L)) == Some("r2"))  // latest before 15 is 10
    assert(got(("u1", 2L)) == None)         // nothing at-or-before 2
    assert(got(("u2", 10L)) == None)        // u2's right row is later
  }

  test("equal timestamps match inclusively") {
    val left = Seq(("k", 10L, "l")).toDF("k", "t", "lv")
    val right = Seq(("k", 10L, "same_t")).toDF("k", "t", "rv")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", "t", Seq("rv")).collect()
    assert(got.head.getString(3) == "same_t")
  }

  test("keys never leak across partitions and multiple right cols attach") {
    val left = Seq(("a", 5L), ("b", 5L)).toDF("k", "t")
    val right = Seq(("a", 1L, 100L, "x")).toDF("k", "t", "id", "tag")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", "t", Seq("id", "tag"))
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got("a") == ((Some(100L), Some("x"))))
    assert(got("b") == ((None, None)))
  }

  test("NULL right-column values come from the matched row, not an older one") {
    // r2 is the as-of match for t=15 and carries a legitimately-NULL
    // tag; a per-column last(ignoreNulls) would backfill r1's "old"
    // tag. All attached columns must come from the SAME matched row.
    val left = Seq(("k", 15L)).toDF("k", "t")
    val right = Seq(
      ("k", 3L, Some("old"), 1L),
      ("k", 10L, Option.empty[String], 2L)).toDF("k", "t", "tag", "rid")
    val got = AsofJoin.asof(left, right, Seq("k"), "t", "t", Seq("tag", "rid")).collect().head
    assert(Option(got.get(got.fieldIndex("asof_tag"))).isEmpty,
      "matched row's NULL tag must be preserved, not backfilled")
    assert(got.getAs[Long]("asof_rid") == 2L)
  }

  test("forward as-of attaches the EARLIEST right row at-or-after, per key") {
    val left = Seq(
      ("u1", 5L, "l_a"), ("u1", 15L, "l_b"), ("u1", 20L, "l_late"),
      ("u2", 10L, "l_c")).toDF("k", "t", "lv")
    val right = Seq(
      ("u1", 8L, "r1"), ("u1", 15L, "r2"),
      ("u2", 3L, "r_early")).toDF("k", "t", "rv")
    val got = AsofJoin.asofForward(left, right, Seq("k"), "t", "t", Seq("rv"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.getAs[String]("asof_rv"))).toMap
    assert(got(("u1", 5L)) == Some("r1"))   // earliest >= 5 is 8
    assert(got(("u1", 15L)) == Some("r2"))  // equal time matches inclusively
    assert(got(("u1", 20L)) == None)        // nothing at-or-after 20
    assert(got(("u2", 10L)) == None)        // u2's right row is earlier
  }

  test("forward as-of emits the matched time and honors the tolerance bound") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq(("k", ts(100)), ("k", ts(500))).toDF("k", "t")
    val right = Seq(
      ("k", ts(160), "near"), ("k", ts(5000), "far")).toDF("k", "t", "rv")
    // tolerance 120 s: t=100 matches 160 (60 s out); t=500's nearest
    // match is 5000 (4500 s out) -> NULL, the bound does not search
    // past the nearest match
    val got = AsofJoin.asofForward(left, right, Seq("k"), "t", "t", Seq("rv"),
        toleranceUs = Some(120L * 1000000L))
      .collect().map(r => r.getTimestamp(1).getTime / 1000 ->
        ((Option(r.getAs[String]("asof_rv")),
          Option(r.getAs[java.sql.Timestamp]("asof_t"))))).toMap
    assert(got(100L) == ((Some("near"), Some(ts(160)))))
    assert(got(500L) == ((None, None)))
  }

  test("forward as-of plan is a single window walk, not a range join") {
    val left = Seq(("k", 5L, "l")).toDF("k", "t", "lv")
    val right = Seq(("k", 8L, "r")).toDF("k", "t", "rv")
    val plan = AsofJoin.asofForward(left, right, Seq("k"), "t", "t", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"forward as-of must not plan a product join:\n${plan.take(500)}")
    assert(plan.contains("Window"), "expected the window-walk plan")
  }

  test("plan is a single window walk, not a range join") {
    val left = Seq(("k", 5L, "l")).toDF("k", "t", "lv")
    val right = Seq(("k", 3L, "r")).toDF("k", "t", "rv")
    val plan = AsofJoin.asof(left, right, Seq("k"), "t", "t", Seq("rv"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of join must not plan a product join:\n${plan.take(500)}")
    assert(plan.contains("Window"), "expected the window-walk plan")
  }
}
