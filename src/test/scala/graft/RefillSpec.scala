package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.prune.Refill

class RefillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("priorityFill: cap path — target subjects capped, target<->target first, maxRows enforced") {
    // 6 target<->target triples, 20 other triples, one hub target subject
    // with 10 objects (must be capped at 3)
    val targets = Seq("t1", "t2", "t3")
    val tt = Seq(("t1", "p", "t2"), ("t2", "p", "t3"), ("t3", "p", "t1"))
    val hub = (0 until 10).map(i => ("t1", "p", s"h$i"))
    val other = (0 until 20).map(i => (s"a$i", "p", s"b$i"))
    val all = (tt ++ hub ++ other).toDF("subject", "predicate", "object")
    val out = Refill.priorityFill(all, all, targets,
      maxRows = 12, minRows = 3, maxObjectsPerSubject = 3).collect()
    assert(out.length == 12)
    assert(out.forall(_.getAs[String]("fill_source") == "core"))
    // t1's rows (target subject) capped at 3 total
    assert(out.count(_.getAs[String]("subject") == "t1") <= 3)
    // all target<->target triples that survive the cap rank first
    val got = out.map(r => (r.getAs[String]("subject"), r.getAs[String]("object"))).toSet
    assert(got.contains(("t2", "t3")) && got.contains(("t3", "t1")))
  }

  test("priorityFill: expansion path — below the floor pulls endpoint-connected triples") {
    val targets = Seq("t1", "t2")
    // filtered set has only 2 triples (< minRows 5); relevant superset has
    // connected and unconnected extras
    val filtered = Seq(("t1", "p", "t2"), ("t2", "p", "x1")).toDF("subject", "predicate", "object")
    val relevant = (Seq(("t1", "p", "t2"), ("t2", "p", "x1"),
      ("x1", "p", "y1"), ("t1", "q", "y2"), // share an endpoint with core
      ("z1", "p", "z2"), ("z3", "p", "z4")) // disconnected: must NOT appear
      ).toDF("subject", "predicate", "object")
    val out = Refill.priorityFill(filtered, relevant, targets,
      maxRows = 10, minRows = 5, maxObjectsPerSubject = 3).collect()
    val core = out.filter(_.getAs[String]("fill_source") == "core")
    val exp = out.filter(_.getAs[String]("fill_source") == "expanded")
    assert(core.length == 2)
    assert(exp.map(r => (r.getAs[String]("subject"), r.getAs[String]("object"))).toSet ==
      Set(("x1", "y1"), ("t1", "y2")))
    assert(!out.exists(_.getAs[String]("subject").startsWith("z")))
  }
}
