package graft.etl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level JSON Schema validation (reference O4/O5,
  * `/root/reference/main.py:59-65,176-189`).
  *
  * Checks exactly what python-jsonschema checks for the draft-07 subset the
  * reference uses: `type` and `required`. `format` annotations (date-time,
  * uuid) are NOT enforced — `"not-a-date"` passes, verified against the
  * reference (SURVEY.md §1.2).
  *
  * Classification drives the 3-way routing (`main.py:176-189`, substring
  * test `'is a required property' in message`):
  *  - "ok"       → fully valid, emitted
  *  - "required" → recoverable (missing required field) → logged +
  *                 quarantined + still emitted with blanks when
  *                 `replace_missing_data` is on
  *  - "other"    → type mismatch etc. → logged + quarantined + dropped
  *  - "parse"    → malformed JSON; the reference crashes
  *                 (`json.JSONDecodeError`, `main.py:172`) — we route it
  *                 like "other" (documented divergence D2, SURVEY §7.5)
  *
  * Error ordering when multiple defects exist: parts in schema property
  * order, within a part fields in declared order, presence before type —
  * deterministic, vs jsonschema's relevance heuristic (the reference only
  * surfaces one error per file anyway).
  */
object Validator extends Serializable {

  final case class Verdict(errClass: String, errField: String, errMsg: String)
  val ok: Verdict = Verdict("ok", "", "")

  @transient private lazy val mapper = new ObjectMapper()

  /** Python-repr-ish rendering of a JSON value for jsonschema-style
    * messages: `'high' is not of type 'number'`, `True is not of type
    * 'integer'`. */
  private def pyRepr(n: JsonNode): String =
    if (n.isTextual) s"'${n.asText}'"
    else if (n.isBoolean) { if (n.asBoolean) "True" else "False" }
    else if (n.isNull) "None"
    else n.toString

  private def typeMatches(n: JsonNode, jsonType: String): Boolean = jsonType match {
    case "string"  => n.isTextual
    case "boolean" => n.isBoolean
    // jsonschema draft-07: booleans are NOT integers/numbers (python bool
    // is excluded explicitly); floats with zero fraction ARE integers.
    case "integer" => n.isIntegralNumber ||
      (n.isFloatingPointNumber && n.asDouble() == Math.floor(n.asDouble()) &&
        !n.asDouble().isInfinite)
    case "number"  => n.isNumber
    case "object"  => n.isObject
    case _         => true
  }

  def validate(raw: String, schema: CompiledSchema): Verdict = {
    val root =
      try mapper.readTree(raw)
      catch { case e: Exception =>
        return Verdict("parse", "", s"malformed JSON: ${e.getMessage}")
      }
    validateRoot(root, schema)
  }

  /** Byte-level entry point: Jackson parses the raw UTF-8 bytes
    * directly, so the codegen path never materializes a java.lang.String
    * copy of the file text. Tree and verdicts are identical to
    * [[validate]] (only parse-error message prose can differ, and golden
    * comparisons deliberately don't match on prose — SURVEY §7.4). */
  def validateBytes(raw: Array[Byte], schema: CompiledSchema): Verdict = {
    val root =
      try mapper.readTree(raw)
      catch { case e: Exception =>
        return Verdict("parse", "", s"malformed JSON: ${e.getMessage}")
      }
    validateRoot(root, schema)
  }

  private def validateRoot(root: JsonNode, schema: CompiledSchema): Verdict = {
    // Jackson returns null for EMPTY input (no exception) — the reference
    // would raise JSONDecodeError there, so route it as a parse failure;
    // pyRepr must never see null.
    if (root == null || root.isMissingNode)
      return Verdict("parse", "", "malformed JSON: empty input")
    if (!root.isObject)
      return Verdict("other", "", s"${pyRepr(root)} is not of type 'object'")

    // Top-level parts in schema property order: presence, then type, then
    // the part's own required/type checks. For multi-defect files this
    // first-error order can differ from python-jsonschema's traversal
    // order and flip routing — documented divergence D6 (SURVEY §7.5).
    for (part <- schema.partOrder) {
      val node = root.get(part)
      if (node == null) {
        if (schema.topRequired.contains(part))
          return Verdict("required", part, s"'$part' is a required property")
      } else {
        if (!node.isObject)
          return Verdict("other", part, s"${pyRepr(node)} is not of type 'object'")
        val (fields, required) =
          if (part == "payload") (schema.payloadFields, schema.payloadRequired)
          else (schema.metadataFields, schema.metadataRequired)
        for (f <- fields) {
          val v = node.get(f.name)
          if (v == null) {
            if (required.contains(f.name))
              return Verdict("required", f.name, s"'${f.name}' is a required property")
          } else if (!typeMatches(v, f.jsonType)) {
            return Verdict("other", f.name,
              s"${pyRepr(v)} is not of type '${f.jsonType}'")
          }
        }
        // required names not among declared properties (none in practice)
        for (r <- required if node.get(r) == null && !fields.exists(_.name == r))
          return Verdict("required", r, s"'$r' is a required property")
      }
    }
    ok
  }

  /** Codegen entry point: UTF8String in, InternalRow of the verdict
    * struct out — no Catalyst↔Scala converters, no String copy of the
    * file bytes, no Row→InternalRow re-encode (the three costs the
    * ScalaUDF form pays on every record). */
  def validateInternal(raw: UTF8String, schema: CompiledSchema): InternalRow = {
    val v = if (raw == null) Verdict("parse", "", "malformed JSON: empty input")
            else validateBytes(raw.getBytes, schema)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(v.errClass),
      UTF8String.fromString(v.errField),
      UTF8String.fromString(v.errMsg)))
  }

  /** Column form: struct(errClass, errField, errMsg) via the codegen'd
    * [[ValidateJson]] expression (SURVEY §4.3's sanctioned upgrade from
    * the r1-r3 UDF — the validator was the one interpreted box left on
    * the per-record ETL hot path). The function-registry name embeds the
    * schema's hash so each entity's schema gets its own stable
    * registration and concurrent entities can't clobber each other. */
  def validateCol(schema: CompiledSchema): Column => Column = {
    val s = schema // serializable case class captured by the expression
    val name = f"graft_validate_${s.hashCode}%08x"
    SparkSession.active.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, exprs => ValidateJson(exprs.head, s),
        "built-in")
    c => call_function(name, c)
  }
}

/** O4 validation as a native Catalyst expression. The per-row work is
  * the Jackson tree parse either way — what the expression removes vs
  * the ScalaUDF form is the per-record harness: UTF8String→String
  * conversion, the To/FromCatalyst converters, and the external-Row
  * re-encode of the verdict struct. `doGenCode` emits a single static
  * call that whole-stage codegen inlines into the scan-validate-parse
  * stage, keeping the full ETL plan one codegen'd pass
  * (`main.py:59-65` semantics; see [[Validator]] for the rules). */
case class ValidateJson(child: Expression, schema: CompiledSchema)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("errClass", StringType, nullable = false),
    StructField("errField", StringType, nullable = false),
    StructField("errMsg", StringType, nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "graft_validate"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_validate needs string input, got ${child.dataType}")

  // null input (never produced by wholetext scans, but contractually
  // covered) routes as a parse failure inside validateInternal — the
  // expression itself is never null, so no nullSafeEval
  override def eval(input: InternalRow): Any =
    Validator.validateInternal(
      child.eval(input).asInstanceOf[UTF8String], schema)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("graftSchema", schema,
      "graft.etl.CompiledSchema")
    val c = child.genCode(ctx)
    val block =
      code"""
         |${c.code}
         |InternalRow ${ev.value} = graft.etl.Validator.validateInternal(
         |  ${c.isNull} ? null : ${c.value}, $schemaRef);
       """.stripMargin
    ev.copy(code = block, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ValidateJson =
    copy(child = newChild)
}
