package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r20-OPT focused parity tests: the per-row LITERAL-codebook kernels
  * that replaced the join/window assignment and encode paths
  * (KmeansQuantizer.homeCid/probeCids, PqQuantizer.codesFromQv/
  * qdtFromQv, the codegen SqDistL2) must be row-identical to the
  * machinery they replaced — including the tricky corners: exact
  * distance TIES (→ lower cid), ABSENT Lloyd cells (sentinel slots
  * that must never win an argmin but must fill ADC table positions),
  * and the UTF-8-byte string order the BPE argmax tie-break pins. */
class KernelParitySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  import graft.sim.{KmeansQuantizer => KQ, PqQuantizer => PQ}

  // deterministic fixture: 64-dim quantized vectors, incl. two vectors
  // EXACTLY equidistant to cells 0 and 1 (tie → lower cid must win)
  private def fixture(s: SparkSession) = {
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val d = 64
    def vec(seed: Int): Seq[Long] =
      (0 until d).map(i => ((seed * 31 + i * 7) % 997).toLong)
    // cells 0 and 1 differ only in dim 0 by ±2 around 500: a vector with
    // dim0 = 500 is equidistant to both
    val c0 = 498L +: (1 until d).map(_ => 100L)
    val c1 = 502L +: (1 until d).map(_ => 100L)
    val c3 = (0 until d).map(_ => 900L) // cid 2 ABSENT (vanished cell)
    val cents = Seq((0, c0), (1, c1), (3, c3))
    val tied = 500L +: (1 until d).map(_ => 100L)
    val vecs = (Seq.tabulate(20)(i => (i.toLong, vec(i))) :+
      (100L, tied) :+ (101L, tied)).toDF("vec_id", "qv")
    (cents, vecs)
  }

  test("SqDistL2 ≡ the retired UDF's arithmetic (min-length, exact i64)") {
    val s = spark
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    def ref(a: Seq[Long], b: Seq[Long]): Long = {
      var acc = 0L; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { val t = a(i) - b(i); acc += t * t; i += 1 }
      acc
    }
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 6L, 9L)),
      (Seq(-5L, 0L, 7L, 9L), Seq(5L, -3L, 7L)), // unequal lengths → min
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(607000L, -607000L), Seq(-607000L, 607000L)))
    val got = rows.toDF("a", "b")
      .select(graft.functions.VectorFunctions.l2_dist($"a", $"b"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == rows.map { case (a, b) => ref(a, b) })
  }

  test("homeCid / probeCids ≡ assignRanked over ties and absent cells") {
    val s = spark
    import s.implicits._
    val (cents, vecs) = fixture(s)
    val centsDf = cents.toDF("cid", "cv")
    val cellsArr = KQ.denseCells(cents.map { case (c, v) => (c, v: Seq[Long]) })
    assert(cellsArr(2).isEmpty, "cid 2 must be an absent slot")
    val lit = typedlit(cellsArr)
    // home: per-row kernel vs the window rn=1
    val kern = vecs.select($"vec_id", KQ.homeCid($"qv", lit).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val win = KQ.assignRanked(vecs, centsDf).filter($"rn" === 1)
      .select($"vec_id", $"cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kern == win)
    assert(kern(100L) == 0, "exact tie must break to the LOWER cid")
    // probes: per-row sorted list vs the window rn ≤ n, for every vector
    val n = 3
    val kp = vecs.select($"vec_id",
        KQ.probeCids($"qv", lit, cellsArr.size, n).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val wp = KQ.assignRanked(vecs, centsDf).filter($"rn" <= n)
      .select($"vec_id", $"cid", $"rn").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.sortBy(_.getInt(2)).map(_.getInt(1)).toList }
    assert(kp == wp)
    assert(kp.values.forall(!_.contains(2)), "absent cell must never be probed")
  }

  test("codesFromQv / qdtFromQv ≡ encoded / queryTables incl. vanished sub-centroid") {
    val s = spark
    import s.implicits._
    val (_, vecs) = fixture(s)
    // train real codebooks from the fixture's subvectors, then DELETE
    // one sub-centroid row to simulate a vanished Lloyd cell
    val sub = PQ.subvectors(vecs)
    val cbFull = PQ.codebooks(sub)
    val cb = cbFull.filter(!($"sub" === 3 && $"cid" === 5))
    val cbRows = cb.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2))).toIndexedSeq
    val cbLit = typedlit(PQ.denseCodebook(cbRows))
    val kCodes = vecs.select($"vec_id", PQ.codesFromQv($"qv", cbLit).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val jCodes = PQ.encoded(sub, cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(kCodes == jCodes)
    val kQdt = vecs.filter($"vec_id" < 5)
      .select($"vec_id", PQ.qdtFromQv($"qv", cbLit).as("qdt"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Long]](1).map(_.toList).toList).toMap
    val jQdt = PQ.queryTables(sub, cb, 5)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Long]](1).map(_.toList).toList).toMap
    assert(kQdt == jQdt)
    // the deleted slot must carry the sentinel in the table...
    assert(kQdt.values.forall(t => t(3)(5) == PQ.AbsentDist))
    // ...and no code may reference it
    assert(kCodes.values.forall(c => c(3) != 5))
  }

  test("utf8Lt tie-break order ≡ Spark's string sort order (non-BMP corner)") {
    val s = spark
    import s.implicits._
    // U+FFFF sorts BEFORE U+10400 in UTF-8/codepoint order, but AFTER it
    // in Java's UTF-16 code-unit order — the exact corner the BPE argmax
    // tie-break must get right
    val tricky = Seq("￿", new String(Character.toChars(0x10400)), "a",
      "", "z~", "")
    val sparkOrder = tricky.toDF("s").orderBy($"s").collect().map(_.getString(0)).toList
    val scalaOrder = tricky.sortWith(graft.queries.Declared7.utf8Lt).toList
    assert(scalaOrder == sparkOrder)
  }
}
