package graft.storage

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, BindReferences, BoundReference, Cast, EqualNullSafe, Expression, If, IsNull, Not, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{assert_true, coalesce, concat, expr, lit, struct, to_json, when}
import org.apache.spark.sql.types.StructType

/** GENERATED COLUMNS for txlog tables — the `GENERATED ALWAYS AS
  * (expr)` column model (Delta/Iceberg-style), declared at CREATE TABLE
  * and enforced at every write door:
  *
  * {{{
  *   CREATE TABLE t (ts TIMESTAMP, day DATE GENERATED ALWAYS AS
  *     (CAST(ts AS DATE))) USING txlog           -- catalog SQL door
  *   TxLog.createTable(..., props = Map(
  *     "graft.generated.day" -> "CAST(ts AS DATE)"))   -- library door
  * }}}
  *
  * Storage model: one table property per generated column,
  * `graft.generated.<physical>` → expression SQL. PHYSICAL-keyed like
  * initial defaults (a RENAME of the generated column moves nothing;
  * DROP retires the slot forever — retired physicals are never
  * re-minted); the expression text speaks LOGICAL names, which stay
  * stable because renaming/dropping/widening a SOURCE column of a
  * generation expression is refused loudly. The generated column is a
  * plain STORED column — zone maps, bloom filters, CBO stats and
  * partition transforms over it all work unchanged, which is the 100 TB
  * point: `PARTITIONED BY (day)` + `WHERE day = X` prunes from the
  * manifest without the reader knowing the column is derived.
  *
  * Write semantics (uniform across doors; per-row, codegen'd):
  *  - the write schema must CONTAIN every generated column (a write
  *    that omits one is refused loudly, like a write omitting a
  *    CHECKed column);
  *  - a NULL incoming value is FILLED with the expression's value (so
  *    SQL inserts that resolve a missing column to NULL, and sources
  *    that simply don't compute the column, both work);
  *  - a NON-NULL incoming value must be null-safe-EQUAL to the
  *    expression's value, else the write is refused per row — an
  *    explicit write can never contradict the declared derivation;
  *  - DML post-images RECOMPUTE the column (`recompute = true`): an
  *    UPDATE to a source column regenerates the derived value instead
  *    of refusing on the stale one; `UPDATE SET` targeting a generated
  *    column directly is refused at the library door.
  *
  * Declaration is CREATE-time only (or while the table has no live
  * files): a later opt-in could not certify existing rows. Declared
  * expressions must be deterministic, reference only NON-generated
  * columns of the table, contain no aggregate/window/subquery, and
  * produce the declared column type (up-cast allowed). */
object TxGen {

  val Prefix = "graft.generated."

  /** The declared generation expressions in `props`:
    * PHYSICAL column name → expression SQL. */
  def gensIn(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(Prefix) =>
      k.stripPrefix(Prefix) -> v
    }

  /** The LIVE declarations under mapping `cm`: a DROPPED generated
    * column retires its physical slot and its declaration goes inert
    * (never enforced, never re-minted) — the initial-defaults
    * contract, shared. */
  private def liveGens(cm: TxLog.ColMap,
                       props: Map[String, String]): Map[String, String] =
    gensIn(props).filter { case (p, _) => !cm.retired.contains(p) }

  /** Parse + resolve `sql` against `schema` (as a SELECT item); returns
    * the resolved expression and the relation's attributes (positional
    * with `schema`). Loud on parse errors, unknown columns,
    * non-determinism, aggregates/windows/subqueries. */
  private def resolve(s: SparkSession, schema: StructType, name: String,
                      sql: String): (Expression, Seq[Attribute]) = {
    val dummy = s.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    val analyzed =
      try dummy.select(expr(sql)).queryExecution.analyzed
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"generation expression for $name ('$sql') does not resolve " +
              s"against schema ${schema.simpleString}: ${e.getMessage}")
      }
    val (item, childOut) = analyzed match {
      case p: Project => (p.projectList.head, p.child.output)
      case other => throw new IllegalArgumentException(
        s"generation expression for $name ('$sql') must be a plain " +
          s"row-level expression (no aggregates/windows), got: ${other.nodeName}")
    }
    val cond = item match {
      case a: Alias => a.child
      case e => e
    }
    require(cond.deterministic,
      s"generation expression for $name ('$sql') must be deterministic")
    require(cond.find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]).isEmpty,
      s"generation expression for $name ('$sql') must not contain a subquery")
    (cond, childOut)
  }

  /** Per-column (logical target, declared type, cast-wrapped resolved
    * expression, relation attrs) for `props`' declarations against
    * `schema` (LOGICAL names) under mapping `cm`. Validates everything
    * the scaladoc promises. */
  private def resolved(s: SparkSession, schema: StructType, cm: TxLog.ColMap,
                       props: Map[String, String])
      : Seq[(String, org.apache.spark.sql.types.DataType, Expression, Seq[Attribute])] = {
    val gens = liveGens(cm, props)
    if (gens.isEmpty) return Seq.empty
    val rev = TxLog.logicalNameMap(cm)
    val genLogicals = gens.keySet.map(p => rev.getOrElse(p, p))
    gens.toSeq.sortBy(_._1).map { case (phys, sql) =>
      val logical = rev.getOrElse(phys, phys)
      val field = schema.fields.find(_.name.equalsIgnoreCase(logical))
        .getOrElse(throw new IllegalArgumentException(
          s"$Prefix$phys names no declared column in ${schema.simpleString}"))
      val (cond, attrs) = resolve(s, schema, field.name, sql)
      val refs = cond.references.map(_.name).toSet
      refs.foreach { r =>
        require(!genLogicals.exists(_.equalsIgnoreCase(r)),
          s"generation expression for ${field.name} ('$sql') references " +
            s"$r, which is itself generated — chains are not supported")
      }
      val cast =
        if (cond.dataType == field.dataType) cond
        else {
          require(Cast.canUpCast(cond.dataType, field.dataType),
            s"generation expression for ${field.name} ('$sql') produces " +
              s"${cond.dataType.simpleString}, which does not losslessly " +
              s"cast to the declared ${field.dataType.simpleString}")
          Cast(cond, field.dataType)
        }
      (field.name, field.dataType, cast, attrs)
    }
  }

  /** Validate `props`' generation declarations against `schema` —
    * parse, resolve, determinism, no chains, type compatibility. */
  def validateDeclared(s: SparkSession, schema: StructType, cm: TxLog.ColMap,
                       props: Map[String, String]): Unit = {
    resolved(s, schema, cm, props); ()
  }

  /** The LOGICAL names of the live generated columns themselves. */
  def generatedLogicals(cm: TxLog.ColMap, props: Map[String, String]): Set[String] = {
    val rev = TxLog.logicalNameMap(cm)
    liveGens(cm, props).keySet.map(p => rev.getOrElse(p, p))
  }

  /** DRIVER staging seam: fill NULL incoming values from the
    * expression and refuse non-null values that contradict it
    * (`recompute = false`), or overwrite unconditionally (`recompute =
    * true`, the DML post-image mode). Schema-preserving; a `df` that
    * omits a generated column is refused loudly. No-op without
    * declarations. */
  def fill(s: SparkSession, df: DataFrame, props: Map[String, String],
           cm: TxLog.ColMap, recompute: Boolean = false): DataFrame = {
    val gens = liveGens(cm, props)
    if (gens.isEmpty) return df
    val rev = TxLog.logicalNameMap(cm)
    gens.toSeq.sortBy(_._1).foldLeft(df) { case (d, (phys, sql)) =>
      val logical = rev.getOrElse(phys, phys)
      val col = d.columns.find(_.equalsIgnoreCase(logical)).getOrElse(
        throw new IllegalArgumentException(
          s"write to a table with generated column $logical must include " +
            s"it (found: ${d.columns.mkString(", ")}) — provide NULLs to " +
            "have the expression fill them"))
      val dt = d.schema(col).dataType
      val e = expr(sql).cast(dt)
      if (recompute) d.withColumn(col, e)
      else {
        val filled = d.withColumn(col, when(d(TxLog.quoted(col)).isNull, e)
          .otherwise(d(TxLog.quoted(col))))
        // post-fill, the value must be null-safe-equal to the
        // expression — catches exactly the contradicting non-null rows
        filled.filter(assert_true(filled(TxLog.quoted(col)) <=> e,
          concat(lit(s"generated column $col ('$sql') contradicted by row "),
            to_json(struct(df.columns.map(d(_)): _*)))).isNull)
      }
    }
  }

  /** EXECUTOR write seam: one serializable per-row transform for the V2
    * writers — validates (unless `recompute`) and substitutes every
    * generated column's value, positionally against the LOGICAL write
    * `schema` (the same positions the rows arrive in). None without
    * declarations; raises on a schema that omits a generated column. */
  def bound(s: SparkSession, schema: StructType, props: Map[String, String],
            cm: TxLog.ColMap, recompute: Boolean = false): Option[BoundGens] = {
    val rs = resolved(s, schema, cm, props)
    if (rs.isEmpty) return None
    val byIdx = rs.map { case (logical, dt, cast, attrs) =>
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(logical))
      require(i >= 0,
        s"write schema omits generated column $logical: ${schema.simpleString}")
      val attr = attrs(i)
      val value =
        if (recompute) cast
        else If(IsNull(attr), cast, attr)
      val violation =
        if (recompute) None
        else Some(Not(org.apache.spark.sql.catalyst.expressions.Or(
          IsNull(attr), EqualNullSafe(attr, cast))))
      (i, BindReferences.bindReference(value, attrs),
        violation.map(v => (logical,
          BindReferences.bindReference(v, attrs))))
    }
    val attrs0 = rs.head._4
    val projExprs: Seq[Expression] = schema.fields.zipWithIndex.map {
      case (f, i) =>
        byIdx.find(_._1 == i).map(_._2)
          .getOrElse(BoundReference(i, f.dataType, f.nullable))
    }.toSeq
    require(attrs0.length == schema.length,
      s"generated-column binding drift: ${attrs0.length} vs ${schema.length}")
    Some(BoundGens(projExprs, byIdx.flatMap(_._3)))
  }

  /** Serializable per-row generated-column transform: check the
    * violation predicates, then project the substituted row. The
    * projection output REUSES a buffer — callers must consume the row
    * before the next call (the parquet writers do). */
  case class BoundGens(projExprs: Seq[Expression],
                       violations: Seq[(String, Expression)]) {
    @transient private lazy val proj: UnsafeProjection =
      UnsafeProjection.create(projExprs)
    @transient private lazy val preds =
      violations.map { case (n, v) =>
        (n, org.apache.spark.sql.catalyst.expressions.Predicate.create(v))
      }
    def apply(row: InternalRow): InternalRow = {
      preds.foreach { case (n, p) =>
        if (p.eval(row)) throw new IllegalArgumentException(
          s"generated column $n contradicted by a written row " +
            "(GENERATED ALWAYS AS values must match the expression or be NULL)")
      }
      proj(row)
    }
  }

  /** Overwrite/REPLACE contract reset (the [[TxLog]] `resetDefaultProps`
    * pattern): re-key each generation declaration through the OLD
    * mapping to its logical name and keep it only where it still
    * VALIDATES against the replacement schema under the reset
    * (identity) mapping — dropped columns, retired slots and
    * declarations whose sources no longer exist all strip, so a stale
    * key can never re-attach to a re-added column. Non-generation
    * props pass through untouched. */
  def survivingProps(s: SparkSession, schema: StructType, oldCm: TxLog.ColMap,
                     props: Map[String, String]): Map[String, String] = {
    val (gen, rest) = props.partition(_._1.startsWith(Prefix))
    if (gen.isEmpty) return props
    val rekeyed = gen.flatMap { case (k, sql) =>
      val phys = k.stripPrefix(Prefix)
      val logical = oldCm.map.find(_._2 == phys).map(_._1)
        .orElse(if (oldCm.retired.contains(phys)) None else Some(phys))
      logical.flatMap(l => schema.fieldNames.find(_.equalsIgnoreCase(l)))
        .map(n => (Prefix + n) -> sql)
    }
    val idCm = TxLog.ColMap(Seq.empty, Seq.empty)
    // chains were refused at declaration, so each declaration validates
    // independently (its sources are never generated columns)
    val kept = rekeyed.filter { case (k, sql) =>
      try { validateDeclared(s, schema, idCm, Map(k -> sql)); true }
      catch { case _: Exception => false }
    }
    rest ++ kept
  }

  /** Existing-row certification for the (empty-table-only) declaration
    * door — kept for symmetry with [[TxCheck.validateExisting]]; with
    * declaration restricted to empty tables this only ever sees empty
    * frames, but a future backfill door would reuse it. */
  def validateExisting(s: SparkSession, df: DataFrame, cm: TxLog.ColMap,
                       props: Map[String, String]): Unit =
    liveGens(cm, props).foreach { case (phys, sql) =>
      val rev = TxLog.logicalNameMap(cm)
      val logical = rev.getOrElse(phys, phys)
      val dt = df.schema(logical).dataType
      val bad = df.filter(!(df(TxLog.quoted(logical)) <=>
        expr(sql).cast(dt))).count()
      require(bad == 0L,
        s"cannot declare generated column $logical ('$sql'): " +
          s"$bad existing row(s) contradict it")
    }
}
