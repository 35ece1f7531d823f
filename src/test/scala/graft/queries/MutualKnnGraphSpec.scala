package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** q78/q78b's graph tail decides "mutual" by grouping each edge's
  * unordered pair, one reference to the kNN edges. Here it is held
  * against the intersect formulation (`knn ∩ reversed knn`, then
  * `a < b`) on hand-built edge lists: `deg` and `tri_cnt` must match
  * row for row, and a few shapes also pin their hand-counted values. */
class MutualKnnGraphSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** The intersect formulation of the same tail. */
  private def byIntersect(nodes: DataFrame, knn: DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    val rev = knn.select($"b".as("a"), $"a".as("b"))
    val mutual = knn.intersect(rev).filter($"a" < $"b")
    val deg = mutual.select($"a".as("nid"))
      .union(mutual.select($"b".as("nid")))
      .groupBy($"nid").agg(count(lit(1)).as("deg"))
    val e2 = mutual.select($"a".as("b"), $"b".as("c"))
    val e3 = mutual.select($"a".as("ta"), $"b".as("c"))
    val tris = mutual.join(e2, "b")
      .join(e3, mutual("a") === e3("ta") && e2("c") === e3("c"))
      .select($"a", $"b", e2("c").as("c"))
    val triPerNode = tris.select(explode(array($"a", $"b", $"c")).as("nid"))
      .groupBy($"nid").agg(count(lit(1)).as("tri_cnt"))
    nodes
      .join(deg, nodes("vec_id") === deg("nid"), "left").drop("nid")
      .join(triPerNode, nodes("vec_id") === triPerNode("nid"), "left")
      .select($"vec_id", coalesce($"deg", lit(0L)).as("deg"),
        coalesce($"tri_cnt", lit(0L)).as("tri_cnt"))
      .orderBy($"vec_id")
  }

  /** Both formulations over nodes 1..n and the directed `edges`; returns
    * the (shared) rows after checking they match row for row. */
  private def graph(n: Long, edges: (Long, Long)*): Seq[(Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    val nodes = spark.range(1, n + 1).select($"id".as("vec_id"))
    val knn = edges.toDF("a", "b")
    val got = Declared7.mutualKnnGraph(spark, nodes, knn).collect().toSeq
    val want = byIntersect(nodes, knn).collect().toSeq
    assert(got == want, s"edges $edges")
    got.map { case Row(v: Long, d: Long, t: Long) => (v, d, t) }
  }

  private def both(x: Long, y: Long): Seq[(Long, Long)] = Seq(x -> y, y -> x)

  test("a one-way edge is not mutual") {
    assert(graph(2, 1L -> 2L) == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("a mutual pair gives each end degree 1") {
    assert(graph(2, both(1, 2): _*) == Seq((1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("duplicate rows of one edge count once") {
    assert(graph(2, 1L -> 2L, 1L -> 2L, 2L -> 1L) == Seq((1L, 1L, 0L), (2L, 1L, 0L)))
    assert(graph(2, 1L -> 2L, 1L -> 2L) == Seq((1L, 0L, 0L), (2L, 0L, 0L)))
  }

  test("a self-loop is never a mutual edge") {
    assert(graph(2, 1L -> 1L, 1L -> 1L, 2L -> 2L) ==
      Seq((1L, 0L, 0L), (2L, 0L, 0L)))
    assert(graph(2, (1L -> 1L) +: both(1, 2): _*) == Seq((1L, 1L, 0L), (2L, 1L, 0L)))
  }

  test("a triangle counts once at each corner") {
    val tri = both(1, 2) ++ both(2, 3) ++ both(1, 3)
    assert(graph(3, tri: _*) == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 1L)))
    // one edge one-way: no triangle left
    assert(graph(3, (tri.filterNot(_ == (3L -> 1L))): _*) ==
      Seq((1L, 1L, 0L), (2L, 2L, 0L), (3L, 1L, 0L)))
  }

  test("a 4-clique: degree 3 and 3 triangles at every node") {
    val clique = for (x <- 1L to 4L; y <- 1L to 4L if x != y) yield x -> y
    assert(graph(4, clique: _*) == (1L to 4L).map(v => (v, 3L, 3L)))
  }

  test("an isolated node keeps a row with zero degree and no triangles") {
    val rows = graph(5, both(1, 2) ++ both(2, 3) ++ both(1, 3): _*)
    assert(rows.filter(_._1 >= 4L) == Seq((4L, 0L, 0L), (5L, 0L, 0L)))
  }

  test("every shape at once, with noise") {
    val edges = Seq(1L -> 9L, 3L -> 3L, 5L -> 6L, 5L -> 6L) ++ both(5, 6) ++
      (for (x <- 10L to 13L; y <- 10L to 13L if x != y) yield x -> y) ++
      both(1, 2) ++ both(2, 3) ++ both(1, 3) ++ Seq(2L -> 10L, 13L -> 1L)
    graph(15, edges: _*)
  }
}
