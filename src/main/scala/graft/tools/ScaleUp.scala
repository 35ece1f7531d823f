package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×N scale-up of a driver testdata directory (dev tool —
  * the driver's own generator is not in this repo, so validating the
  * engine one order of magnitude past the shipped sf0.1 needs a
  * faithful local generator; TESTDATA.md forbids modifying the shipped
  * dirs, so the output lives under the repo, gitignored).
  *
  * Design: correctness checks are Spark-vs-DuckDB over the SAME files,
  * so any data works for the hash gate; what matters is that BENCH
  * behavior at ×10 reflects a real corpus growing, not an artifact of
  * naive duplication. Hence:
  *
  *  - relational tables replicate N× with per-replica KEY OFFSETS
  *    (replica 0 is the identity, so sf0.1 is a subset); referential
  *    integrity and all value distributions are preserved exactly —
  *    joins fan out like a 10× corpus, date filters select 10× rows;
  *  - constant dims (region, nation) stay fixed, as at every real SF;
  *  - `documents` applies a per-replica VOCABULARY PERMUTATION to the
  *    text (bijection on the token vocabulary, whitespace preserved):
  *    within a replica every length/duplicate/token-count statistic is
  *    byte-for-byte the original's, while cross-replica token overlap
  *    collapses to chance — near-dup pair density grows ~linearly like
  *    a real corpus, instead of every doc gaining 9 exact copies
  *    (which would grow LSH buckets quadratically and measure a
  *    fiction);
  *  - `embeddings` keep their label-cluster geometry: replicas draw new
  *    vectors as centroid(label) + residual-RMS-scaled deterministic
  *    hash-noise — cluster structure and in-cell cosine densities match
  *    the original, with no artificial duplicate-vector pairs.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <outDir> [factor=10]
  */
object ScaleUp {

  /** splitmix64 — deterministic PRNG stream seeded per (replica, id). */
  private def splitmix(x0: Long): () => Long = {
    var x = x0
    () => {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  private def gaussPair(next: () => Long): (Double, Double) = {
    // Box-Muller over two (0,1] uniforms from the top 53 bits
    val u1 = ((next() >>> 11) + 1).toDouble / (1L << 53).toDouble
    val u2 = (next() >>> 11).toDouble / (1L << 53).toDouble
    val r = math.sqrt(-2.0 * math.log(u1))
    (r * math.cos(2 * math.Pi * u2), r * math.sin(2 * math.Pi * u2))
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.local("graft-scaleup", 32)
    generate(spark, src, out, factor)
    spark.stop()
  }

  /** FACTOR CEILING: each output table funnels through a single writer
    * task (`coalesce(1)`) because the driver's check.py/DuckDB contract
    * is one `<name>.parquet` FILE per table — DuckDB cannot read a bare
    * directory of parts (verified), so multi-part output is not an
    * option here. Measured fine at factor 10 of sf0.1 (~1 GiB largest
    * table); the single writer becomes the bottleneck / OOM risk as
    * `src_bytes × factor` grows, so generation warns loudly per table
    * above [[SingleWriterWarnBytes]] and refuses factors that would
    * push any table past ~8 GiB of input replicated. */
  val SingleWriterWarnBytes: Long = 4L << 30

  def generate(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    import spark.implicits._

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def t(n: String): DataFrame = graft.Tables(spark, src, n)

    def srcBytes(n: String): Long = {
      val f = new java.io.File(s"$src/$n.parquet")
      if (f.isFile) f.length
      else if (f.isDirectory) f.listFiles().map(_.length).sum
      else 0L
    }

    /** Write as the driver's single-file layout: one `<name>.parquet`
      * FILE (check.py / DuckDB read it as a plain path). See the factor
      * ceiling note above: this is a deliberate single-task funnel. */
    def writeOne(df: DataFrame, name: String): Unit = {
      val est = srcBytes(name) * factor
      require(est < 2 * SingleWriterWarnBytes,
        s"$name would replicate to ~${est >> 20} MiB through a single " +
          s"writer task — beyond the documented factor ceiling for the " +
          s"one-file-per-table layout; scale up in stages or shrink factor")
      if (est > SingleWriterWarnBytes)
        println(s"[scaleup] WARNING: $name ~${est >> 20} MiB funnels " +
          "through one writer task (single-file layout) — expect it to be slow")
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      val dst = java.nio.file.Paths.get(s"$out/$name.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(part.toPath, dst)
      dir.listFiles().foreach(_.delete()); dir.delete()
      println(s"[scaleup] wrote $name.parquet")
    }

    val reps = broadcast((0 until factor).toDF("r"))
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // ------------------------------------------------- fixed dims
    writeOne(t("region"), "region")
    writeOne(t("nation"), "nation")

    // ------------------------------------------- relational replicas
    val (cOff, sOff, pOff) =
      (off(t("customer"), "c_custkey"), off(t("supplier"), "s_suppkey"),
        off(t("part"), "p_partkey"))
    val oOff = off(t("orders"), "o_orderkey")
    writeOne(t("customer").crossJoin(reps).select(
      ($"c_custkey" + $"r" * cOff).as("c_custkey"), $"c_name",
      $"c_nationkey", $"c_acctbal", $"c_mktsegment"), "customer")
    writeOne(t("supplier").crossJoin(reps).select(
      ($"s_suppkey" + $"r" * sOff).as("s_suppkey"), $"s_name",
      $"s_nationkey", $"s_acctbal"), "supplier")
    writeOne(t("part").crossJoin(reps).select(
      ($"p_partkey" + $"r" * pOff).as("p_partkey"), $"p_name", $"p_brand",
      $"p_type", $"p_size", $"p_retailprice"), "part")
    writeOne(t("orders").crossJoin(reps).select(
      ($"o_orderkey" + $"r" * oOff).as("o_orderkey"),
      ($"o_custkey" + $"r" * cOff).as("o_custkey"),
      $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority"),
      "orders")
    writeOne(t("lineitem").crossJoin(reps).select(
      ($"l_orderkey" + $"r" * oOff).as("l_orderkey"),
      ($"l_partkey" + $"r" * pOff).as("l_partkey"),
      ($"l_suppkey" + $"r" * sOff).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate"), "lineitem")

    val eOff = off(t("events"), "event_id")
    val uOff = off(t("events"), "user_id")
    writeOne(t("events").crossJoin(reps).select(
      ($"event_id" + $"r" * eOff).as("event_id"), $"ts",
      ($"user_id" + $"r" * uOff).as("user_id"),
      $"event_type", $"value", $"props"), "events")

    // ------------------------------------------------- documents
    // The shipped corpus draws from a ~31-token vocabulary, so no
    // vocabulary BIJECTION can decorrelate replicas (two 23-of-31
    // subsets always overlap heavily). Replica-NAMESPACED tokens do:
    // every token gains a per-replica suffix, making cross-replica
    // token/shingle sets fully disjoint (near-dup candidates die at
    // verification) while within a replica every duplicate/repetition/
    // count statistic keeps the original corpus's structure.
    val docs = t("documents")
    val dOff = off(docs, "doc_id")
    val permute = udf((text: String, r: Int) =>
      if (r == 0) text
      else {
        val suffix = "x" + r
        val sb = new java.lang.StringBuilder(text.length + text.length / 3)
        var i = 0
        while (i < text.length) {
          if (text.charAt(i) == ' ') { sb.append(' '); i += 1 }
          else {
            val j0 = i
            while (i < text.length && text.charAt(i) != ' ') i += 1
            sb.append(text, j0, i).append(suffix)
          }
        }
        sb.toString
      })
    writeOne(docs.crossJoin(reps).select(
      ($"doc_id" + $"r" * dOff).as("doc_id"),
      permute($"text", $"r").as("text"),
      $"lang", $"source").withColumn("n_chars", length($"text").cast("long")),
      "documents")

    // ------------------------------------------------ embeddings
    val emb = t("embeddings")
    val vOff = off(emb, "vec_id")
    val dim = emb.select(size($"embedding")).head().getInt(0)
    val stats = emb
      .select($"label", posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
      .groupBy($"label", $"pos").agg(avg($"x").as("c"), stddev_pop($"x").as("sd"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (label, rows) =>
        val cs = new Array[Double](dim); val sds = new Array[Double](dim)
        rows.foreach(r => { cs(r.getInt(1)) = r.getDouble(2); sds(r.getInt(1)) = r.getDouble(3) })
        label -> ((cs, sds))
      }
    val statsB = spark.sparkContext.broadcast(stats)
    val regen = udf((vecId: Long, label: Int, r: Int, orig: Seq[Float]) =>
      if (r == 0) orig.toArray
      else {
        val (cs, sds) = statsB.value(label)
        val next = splitmix(vecId * 0x9e3779b97f4a7c15L + r * 0xbf58476d1ce4e5b9L)
        val outV = new Array[Float](cs.length)
        var i = 0
        while (i < cs.length) {
          val (g1, g2) = gaussPair(next)
          outV(i) = (cs(i) + sds(i) * g1).toFloat
          if (i + 1 < cs.length) outV(i + 1) = (cs(i + 1) + sds(i + 1) * g2).toFloat
          i += 2
        }
        outV
      })
    writeOne(emb.crossJoin(reps).select(
      ($"vec_id" + $"r" * vOff).as("vec_id"),
      regen($"vec_id", $"label", $"r", $"embedding").as("embedding"),
      $"label"), "embeddings")

    println(s"[scaleup] done: $out at factor $factor")
  }
}
