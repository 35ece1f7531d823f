package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-point Lloyd k-means building blocks — THE single Scala
  * definition of the bit-exact distributed k-means step, consumed by
  * both the declared q63 query (one audited Lloyd iteration with
  * before/after populations) and the IVF codebook trainer
  * ([[Similarity.trainedCodebook]]). Everything is integer arithmetic:
  * coordinates quantize to `floor(x·2²⁰ + ½)`, distances are exact
  * i64 sums of squared diffs, argmin ties break to the lower centroid
  * id, and the centroid update is the floor of an exact integer mean —
  * so any engine (the DuckDB oracle included) reproduces the codebook
  * bit-for-bit from the same corpus.
  *
  * Physical shapes (MLlib's distributed Lloyd): assignment broadcasts
  * the k centroids against the vector stream (k·d multiply-adds per
  * row, no shuffle of the vectors); the update is one partial-agg
  * shuffle of (cluster, dim) cells — k·d rows, not the corpus. */
object KmeansQuantizer {

  /** Fixed-point scale 2^20. Embedding coords are |x| < 0.58, so scaled
    * values fit ±607k, squared diffs ×64 dims ≤ 9.4e13 ≪ 2^63, and
    * per-(cluster, dim) sums ≤ 3e9 ≪ 2^53 — every quantity is EXACT in
    * both engines. */
  val Scale = 1048576L

  /** Exact i64 squared L2 distance between quantized vectors — the
    * codegen'd [[graft.functions.SqDistL2]] Expression (identical
    * arithmetic to the r19 Scala UDF it replaced: Σ (a−b)² over the
    * shorter length; opt guide §4 — the UDF paid ArrayData→Seq boxing
    * per call and broke whole-stage codegen across every IVF/PQ
    * assignment and encode projection). Callers must have
    * [[graft.functions.VectorFunctions.register]]ed the session; every
    * entry point in this file and [[PqQuantizer]] does. */
  private[graft] def distUdf(a: org.apache.spark.sql.Column,
                             b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.l2_dist(a, b)

  /** Scale-adaptive fan-out for the per-row-KERNEL stages (opt guide
    * §2.5 input skew): the test corpora are single-file parquet — ONE
    * scan split — so the kernel-heavy projections (homeCid / residual /
    * PQ encode / ADC tables) serialize on one core no matter how many
    * the session has (r21 per-job timing: 0.65 s single-TASK stages
    * inside sim_topk_ivfpq_res on local[32]). When the input's natural split
    * count cannot feed the session's parallelism, hash-repartition by
    * vec_id BEFORE the kernels; inputs with enough splits (the 100 TB
    * case — thousands of file splits) skip the exchange entirely, so
    * this is layout-adaptive, not a local-mode constant. Deterministic
    * key (no round-robin), so task retries re-place rows identically
    * and no sort-before-repartition is paid; filters on vec_id (query /
    * seed subtrees) still push through the repartition to the scan. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df
    else df.repartition(p, col("vec_id"))
  }

  /** (vec_id, qv: array<long>) — the corpus in fixed-point. */
  def quantized(embeddings: DataFrame): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    embeddings.select($"vec_id",
      transform($"embedding".cast("array<double>"),
        x => floor(x * Scale + 0.5).cast("long")).as("qv"))
  }

  /** Every (vector, centroid) pair ranked by exact distance (ties →
    * lower cid): rn=1 is the home cell, rn ≤ nprobe are probe cells.
    * Centroids broadcast; the vector stream never shuffles here. */
  def assignRanked(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val wd = Window.partitionBy($"vec_id").orderBy($"dist", $"cid")
    vecs.crossJoin(broadcast(cents))
      .select($"vec_id", $"qv", $"cid", distUdf($"qv", $"cv").as("dist"))
      .withColumn("rn", row_number().over(wd))
  }

  /** Hard assignment: each vector's single nearest centroid. Argmin via
    * `min_by` over the totally-ordered (dist, cid) struct — EXACTLY
    * [[assignRanked]]'s rn=1 row (same exact distances, same tie→lower
    * cid), but as a partial-aggregable groupBy instead of a full-corpus
    * window: every vector's k candidate rows are map-local (fanned out
    * from one input row), so the partial agg collapses them to ONE row
    * per vector before the exchange — the shuffle carries |corpus| rows
    * instead of k·|corpus|, and the per-partition window SORT disappears
    * (opt guide §2.3 aggregate-before-shuffle / §2.4). The rank-needing
    * callers (probe selection over the query set) filter to the
    * query rows FIRST and pay [[assignRanked]]'s window only on those. */
  def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    vecs.crossJoin(broadcast(cents))
      .select($"vec_id", $"qv", $"cid", distUdf($"qv", $"cv").as("dist"))
      .groupBy($"vec_id")
      .agg(min_by(struct($"qv", $"cid"), struct($"dist", $"cid")).as("m"))
      .select($"vec_id", $"m.qv".as("qv"), $"m.cid".as("cid"))
  }

  /** Lloyd update in exact integer arithmetic: floored mean per
    * (cluster, dim) cell — one k·d-row partial-agg shuffle. */
  def lloydCells(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.select($"cid", posexplode($"qv").as(Seq("pos", "x")))
      .groupBy($"cid", $"pos")
      .agg(floor(sum($"x").cast("double") / count(lit(1))).cast("long").as("cval"))
  }

  /** Reassemble (cid, pos, cval) cells into (cid, cv: array<long>). */
  def cellVectors(cells: DataFrame): DataFrame = {
    val s = cells.sparkSession
    import s.implicits._
    cells.groupBy($"cid")
      .agg(array_sort(collect_list(struct($"pos", $"cval"))).as("pc"))
      .select($"cid", transform($"pc", e => e("cval")).as("cv"))
  }

  /** Sentinel distance for ABSENT centroid slots in a dense
    * cid-indexed literal codebook (the [[PqQuantizer.AbsentDist]]
    * argument): real distances are ≤ d·(2·Scale·0.58)² ≈ 9.4e13 ≪ 2^59,
    * so an absent slot can never win an argmin. */
  val AbsentCellDist: Long = 1L << 59

  /** Dense cid-indexed centroid matrix from (cid, cv) rows: slot i holds
    * centroid i's vector, or an EMPTY array when cell i lost all members
    * in the Lloyd step (the argmin kernels map empty → [[AbsentCellDist]]).
    * Driver-side and dimension-sized (k·d longs) by construction. */
  def denseCells(cents: Seq[(Int, Seq[Long])]): Seq[Seq[Long]] = {
    if (cents.isEmpty) Seq.empty // empty corpus → empty codebook (no argmax)
    else {
      val k = cents.map(_._1).max + 1
      val m = cents.toMap
      (0 until k).map(c => m.getOrElse(c, Seq.empty[Long]))
    }
  }

  /** Per-row distance vector of `qv` against a dense literal codebook:
    * element cid = exact i64 L2 (or [[AbsentCellDist]] for an absent
    * slot). The building block of the SHUFFLE-FREE assignment kernels:
    * with the codebook a driver literal (it is always dimension-sized),
    * nearest-cell routing needs no crossJoin fan-out, no aggregation and
    * no window — it is a per-row expression computed inside the scan
    * stage (opt guide §2.4 "remove shuffles outright"). Arithmetic and
    * tie-breaks are IDENTICAL to the join-based [[assign]]/[[assignRanked]]. */
  def cellDists(qv: Column, cellsLit: Column): Column =
    transform(cellsLit,
      cv => when(size(cv) === 0, lit(AbsentCellDist))
        .otherwise(graft.functions.VectorFunctions.l2_dist(qv, cv)))

  /** Per-row HOME cell id over a dense literal codebook: argmin of
    * [[cellDists]] with ties → lower cid (`array_position` returns the
    * FIRST index of the minimum — exactly [[assign]]'s min_by order). */
  def homeCid(qv: Column, cellsLit: Column): Column =
    (array_position(cellDists(qv, cellsLit),
      array_min(cellDists(qv, cellsLit))) - 1).cast("int")

  /** Per-row NPROBE nearest cell ids over a dense literal codebook,
    * nearest first: sort (dist, cid) structs (lexicographic =
    * [[assignRanked]]'s (dist, cid) window order), keep the first
    * `nprobe` cids. */
  def probeCids(qv: Column, cellsLit: Column, k: Int, nprobe: Int): Column = {
    val withCid = transform(sequence(lit(0), lit(k - 1)),
      i => struct(element_at(cellDists(qv, cellsLit), i + 1).as("dist"),
        i.cast("int").as("cid")))
    // absent slots (sentinel dist) drop out — [[assignRanked]] ranked
    // only PRESENT centroid rows, so the probe list must too
    transform(
      slice(filter(array_sort(withCid),
        x => x.getField("dist") < AbsentCellDist), 1, nprobe),
      x => x.getField("cid"))
  }

  /** One-Lloyd-step codebook: seeds = vectors 0..k−1, one assignment,
    * one exact-integer update → (cid, cv) centroid vectors. Fully
    * deterministic, so a SQL engine rebuilds the identical codebook
    * from the corpus (the oracle path for sim_topk_ivf_trained).
    *
    * Plan shape (r20): the k seed vectors are collected (k·d longs —
    * dimension-sized) and the assignment runs as the per-row
    * [[homeCid]] kernel inside the corpus scan, so the trainer's only
    * exchanges are the (cid, pos) cell partial-agg and the k-row
    * reassembly — the r19 form paid an additional corpus-sized
    * assignment exchange (crossJoin fan-out + per-vector argmin
    * aggregation) for the same bit-identical result. */
  def trainedCodebook(embeddings: DataFrame, k: Int): DataFrame = {
    val s = embeddings.sparkSession
    import s.implicits._
    val q = quantized(embeddings)
    val seeds = q.filter($"vec_id" < k)
      .select($"vec_id".cast("int"), $"qv")
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1)))
    val seedsLit = typedlit(denseCells(seeds.toIndexedSeq))
    // NOT fanned out (see [[fanOut]]): the homeCid kernel alone is k·d
    // multiply-adds per row — measured CHEAPER serial than behind an
    // extra exchange at every test SF (r21; the PQ encode paths, an
    // order of magnitude more work per row, do fan out)
    cellVectors(lloydCells(
      q.select($"qv", homeCid($"qv", seedsLit).as("cid"))))
  }
}
