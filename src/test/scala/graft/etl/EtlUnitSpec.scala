package graft.etl

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Unit suites per operator (SURVEY §5.2 item 1). */
class SchemaCompilerSpec extends AnyFunSuite {
  val users = SchemaCompiler.compileJson(EtlFixtures.userSchemaJson)
  val cards = SchemaCompiler.compileJson(EtlFixtures.cardSchemaJson)

  test("v1 column orders match SURVEY §1.3 exactly") {
    assert(users.v1Columns ==
      Seq("id", "name", "address", "job", "score", "type", "event_at", "event_id"))
    assert(cards.v1Columns ==
      Seq("id", "user_id", "created_by_name", "updated_at", "created_at",
        "active", "type", "event_at", "event_id"))
  }

  test("v2 column orders match SURVEY §1.3 exactly") {
    assert(users.v2PayloadColumns ==
      Seq("id", "prefix", "name", "suffix", "address", "job", "score", "event_id"))
    assert(cards.v2PayloadColumns ==
      Seq("id", "user_id", "prefix", "created_by_name", "suffix",
        "updated_at", "created_at", "active", "event_id"))
    assert(users.v2MetadataColumns == Seq("type", "event_at", "event_id"))
  }

  test("part order follows schema property order (users: metadata first)") {
    assert(users.partOrder == Seq("metadata", "payload"))
    assert(cards.partOrder == Seq("payload", "metadata"))
  }
}

class ValidatorSpec extends AnyFunSuite {
  val users = SchemaCompiler.compileJson(EtlFixtures.userSchemaJson)
  val cards = SchemaCompiler.compileJson(EtlFixtures.cardSchemaJson)

  def v(raw: String, s: CompiledSchema) = Validator.validate(raw, s)

  val validUser =
    """{"metadata":{"type":"user","event_at":"2023-10-23 22:55:01","event_id":"x"},
      |"payload":{"id":1,"name":"A B","address":"a","job":"j","score":0.5}}""".stripMargin

  test("valid event → ok") { assert(v(validUser, users).errClass == "ok") }

  test("F3: missing required → class required, jsonschema message") {
    val r = v("""{"payload":{"id":1,"created_by_name":"X","updated_at":"u",
        |"created_at":"c","active":true},
        |"metadata":{"type":"card","event_at":"e","event_id":"i"}}""".stripMargin, cards)
    assert(r.errClass == "required")
    assert(r.errField == "user_id")
    assert(r.errMsg == "'user_id' is a required property")
  }

  test("F9: type mismatch → class other, jsonschema message") {
    val r = v(validUser.replace("0.5", "\"high\""), users)
    assert(r.errClass == "other")
    assert(r.errMsg == "'high' is not of type 'number'")
  }

  test("F10: format (date-time/uuid) NOT enforced") {
    val r = v(validUser.replace("2023-10-23 22:55:01", "not-a-date"), users)
    assert(r.errClass == "ok")
  }

  test("missing whole metadata part → required (recoverable)") {
    val r = v("""{"payload":{"id":1,"name":"A","address":"a","job":"j","score":1}}""", users)
    assert(r.errClass == "required")
    assert(r.errMsg == "'metadata' is a required property")
  }

  test("malformed JSON → parse (divergence D2: reference crashes)") {
    assert(v("{not json", users).errClass == "parse")
    // Jackson returns null (no exception) for EMPTY input — must not NPE
    assert(v("", users).errClass == "parse")
    assert(v("   ", users).errClass == "parse")
  }

  test("integer: booleans are not integers; integral floats are") {
    val cardOk =
      """{"payload":{"id":1,"user_id":2,"created_by_name":"X","updated_at":"u",
        |"created_at":"c","active":true},
        |"metadata":{"type":"card","event_at":"e","event_id":"i"}}""".stripMargin
    assert(v(cardOk, cards).errClass == "ok")
    val boolId = v(cardOk.replace("\"user_id\":2", "\"user_id\":true"), cards)
    assert(boolId.errClass == "other")
    assert(boolId.errMsg == "True is not of type 'integer'")
    assert(v(cardOk.replace("\"user_id\":2", "\"user_id\":2.0"), cards).errClass == "ok")
    assert(v(cardOk.replace("\"user_id\":2", "\"user_id\":2.5"), cards).errClass == "other")
  }

  test("number accepts ints; string rejects numbers") {
    assert(v(validUser.replace("\"score\":0.5", "\"score\":1"), users).errClass == "ok")
    val r = v(validUser.replace("\"job\":\"j\"", "\"job\":5"), users)
    assert(r.errMsg == "5 is not of type 'string'")
  }
}

/** Parity of the codegen'd [[ValidateJson]] expression with the r1-r3
  * ScalaUDF twin (rebuilt here: a `udf` over `Validator.validate`) over
  * real fixtures + adversarial inputs — the O4 promotion (SURVEY §4.3)
  * must be a pure perf change, class/field/msg identical per row. */
class ValidatorParitySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val users = SchemaCompiler.compileJson(EtlFixtures.userSchemaJson)

  val inputs: Seq[String] = Seq(
    """{"metadata":{"type":"user","event_at":"t","event_id":"x"},
      |"payload":{"id":1,"name":"A B","address":"a","job":"j","score":0.5}}""".stripMargin,
    """{"payload":{"id":1,"name":"A","address":"a","job":"j","score":0.5}}""", // missing metadata
    """{"metadata":{"type":"user","event_at":"t","event_id":"x"},
      |"payload":{"id":1,"name":"A","address":"a","job":"j","score":"high"}}""".stripMargin, // type err
    """{"metadata":{"type":"user","event_at":"t","event_id":"x"},
      |"payload":{"id":1,"name":"A","address":"a","job":"j"}}""".stripMargin, // missing required
    """{"metadata":{"type":"user","event_at":"t","event_id":"x"}, "payload": 7}""", // part not object
    """not json at all""", "", "[1,2,3]", "null", "true",
    """{"metadata":{"type":true,"event_at":"t","event_id":"x"},
      |"payload":{"id":3.0,"name":"A","address":"a","job":"j","score":1}}""".stripMargin)

  test("expression verdicts == UDF verdicts on every adversarial input") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val df = inputs.toDF("value")
    val expr = df.select(Validator.validateCol(users)(col("value")).as("v"))
      .select("v.errClass", "v.errField", "v.errMsg").collect()
    val s = users
    val validateUdf = udf((raw: String) => Validator.validate(raw, s))
    val viaUdf = df.select(validateUdf(col("value")).as("v"))
      .select("v.errClass", "v.errField", "v.errMsg").collect()
    assert(expr.length == viaUdf.length)
    expr.zip(viaUdf).zipWithIndex.foreach { case ((a, b), i) =>
      // parse-error message prose may differ (String vs byte parser
      // coordinates); class + field must be identical, and message too
      // for every non-parse verdict
      assert(a.getString(0) == b.getString(0), s"class mismatch on input $i: $a vs $b")
      assert(a.getString(1) == b.getString(1), s"field mismatch on input $i: $a vs $b")
      if (a.getString(0) != "parse")
        assert(a.getString(2) == b.getString(2), s"msg mismatch on input $i: $a vs $b")
    }
  }

  test("expression path stays inside whole-stage codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // through parquet: a local relation would be constant-folded at
    // plan time (ConvertToLocalRelation) and show no codegen stage
    val dir = java.nio.file.Files.createTempDirectory("validate_cg_").toString + "/in"
    inputs.toDF("value").write.parquet(dir)
    val df = spark.read.parquet(dir)
      .select(Validator.validateCol(users)(col("value")).as("v"))
      .filter(col("v.errClass") =!= "ok")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "validate stage not codegen'd:\n" + df.queryExecution.executedPlan)
  }
}

class TransformsSpec extends AnyFunSuite {
  import graft.TestSpark.spark
  import spark.implicits._

  def one(in: String, c: org.apache.spark.sql.Column): String = {
    val r = Seq(in).toDF("x").select(c.as("y")).collect()(0)
    if (r.isNullAt(0)) null else r.get(0).toString
  }

  test("pyCapitalize = Python str.capitalize, NOT initcap") {
    assert(one("SITE reliability Engineer", Transforms.pyCapitalize($"x"))
      == "Site reliability engineer")
    assert(one("", Transforms.pyCapitalize($"x")) == "")
    assert(one("a", Transforms.pyCapitalize($"x")) == "A")
  }

  test("F4/F13: fixJob rewrites 1-comma jobs; others pass through") {
    assert(one("Engineer, site reliability", Transforms.fixJob($"x"))
      == "Site reliability engineer")
    assert(one("Engineer, SITE", Transforms.fixJob($"x")) == "Site engineer")
    assert(one("Plain title", Transforms.fixJob($"x")) == "Plain title")
    // ≥2 commas: reference raises ValueError (D4: pass through)
    assert(one("a, b, c", Transforms.fixJob($"x")) == "a, b, c")
  }

  test("addressClean strips all newlines to spaces") {
    assert(one("l1\nl2\nl3", Transforms.addressClean($"x")) == "l1 l2 l3")
  }

  def parts(in: String): (String, String, String) = {
    val r = Seq(in).toDF("x").select(Transforms.nameParts($"x").as("p"))
      .select($"p.prefix", $"p.name", $"p.suffix").collect()(0)
    (r.getString(0), r.getString(1), r.getString(2))
  }

  test("F5: 4 tokens → prefix + suffix unconditional") {
    assert(parts("Dr. Jane Doe PhD") == (("Dr.", "Jane Doe", "PhD")))
    assert(parts("Xx Jane Doe Yy") == (("Xx", "Jane Doe", "Yy")))
  }
  test("F6: 3 tokens with title → prefix only") {
    assert(parts("Mr. Bob Smith") == (("Mr.", "Bob Smith", "")))
  }
  test("F7: 3 tokens without title → unconditional suffix (dead list)") {
    assert(parts("Ann Lee Jr.") == (("", "Ann Lee", "Jr.")))
    assert(parts("Ann Lee Zzz") == (("", "Ann Lee", "Zzz")))
  }
  test("F8: other token counts untouched") {
    assert(parts("Juan de la Cruz Santos III") == (("", "Juan de la Cruz Santos III", "")))
    assert(parts("Madonna") == (("", "Madonna", "")))
    assert(parts("Ann Lee") == (("", "Ann Lee", "")))
  }
  test("python split(' ') empty-token parity: double space counts") {
    // "A  B C".split(' ') → ['A','','B','C'] (4 tokens) → prefix='A', suffix='C'
    assert(parts("A  B C") == (("A", " B", "C")))
  }
}

class PyFormatSpec extends AnyFunSuite {
  test("floats render like Python repr") {
    assert(PyFormat.pyFloatRepr(0.8627791036375512) == "0.8627791036375512")
    assert(PyFormat.pyFloatRepr(0.5) == "0.5")
    assert(PyFormat.pyFloatRepr(1.5) == "1.5")
    assert(PyFormat.pyFloatRepr(1.0) == "1.0")
    assert(PyFormat.pyFloatRepr(-2.0) == "-2.0")
    assert(PyFormat.pyFloatRepr(0.0625) == "0.0625")
    assert(PyFormat.pyFloatRepr(1e22) == "1e+22")
    assert(PyFormat.pyFloatRepr(1e16) == "1e+16")
    assert(PyFormat.pyFloatRepr(1234567890123456.0) == "1234567890123456.0")
    assert(PyFormat.pyFloatRepr(12345678.9) == "12345678.9")
    assert(PyFormat.pyFloatRepr(0.0005) == "0.0005")
    assert(PyFormat.pyFloatRepr(0.0000862) == "8.62e-05")
    assert(PyFormat.pyFloatRepr(-0.25) == "-0.25")
    assert(PyFormat.pyFloatRepr(0.0) == "0.0")
    assert(PyFormat.pyFloatRepr(-0.0) == "-0.0")
  }

  test("csv QUOTE_MINIMAL quoting") {
    assert(PyFormat.csvField("plain") == "plain")
    assert(PyFormat.csvField("a,b") == "\"a,b\"")
    assert(PyFormat.csvField("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(PyFormat.csvLine(Seq("1", "a,b", "c")) == "1,\"a,b\",c")
  }
}

class TomlSubsetSpec extends AnyFunSuite {
  test("parses the reference's declared config shape") {
    val tmp = java.nio.file.Files.createTempFile("conf", ".toml")
    java.nio.file.Files.writeString(tmp,
      """# comment line
        |[[data]]
        |name = "cards"          # trailing comment
        |schema_file = "card-events-schema.json"
        |output_file = "cards.csv"
        |data_dir = "cards"
        |schema_mismatch_dir = "cards_schema_mismatches"
        |
        |[[data]]
        |name = "users"
        |schema_file = "user-events-schema.json"
        |output_file = "users.csv"
        |data_dir = "users"
        |schema_mismatch_dir = "users_schema_mismatches"
        |""".stripMargin)
    val entries = TomlSubset.parseTableArray(tmp.toString, "data")
    assert(entries.size == 2)
    assert(entries.head("name") == "cards")
    assert(entries(1)("data_dir") == "users")
    assert(entries.head("schema_mismatch_dir") == "cards_schema_mismatches")
  }

  test("a plain [table] header ends the [[data]] scope") {
    val tmp = java.nio.file.Files.createTempFile("conf2", ".toml")
    java.nio.file.Files.writeString(tmp,
      """[[data]]
        |name = "cards"
        |[settings]
        |name = "prod"
        |""".stripMargin)
    val entries = TomlSubset.parseTableArray(tmp.toString, "data")
    assert(entries.size == 1)
    assert(entries.head("name") == "cards") // NOT overwritten by [settings]
  }
}

class EtlEdgeSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  test("filenames with spaces survive URI decoding through quarantine") {
    val base = java.nio.file.Files.createTempDirectory("etl_space_")
    java.nio.file.Files.writeString(
      base.resolve("user-events-schema.json"), EtlFixtures.userSchemaJson)
    val dataDir = java.nio.file.Files.createDirectories(base.resolve("users"))
    // invalid event (score type error) in a file whose name has a space
    java.nio.file.Files.writeString(dataDir.resolve("my event.json"),
      """{"metadata":{"type":"user","event_at":"e","event_id":"i"},
        |"payload":{"id":1,"name":"A B","address":"a","job":"j","score":"bad"}}""".stripMargin)
    val conf = EntityConf("users",
      base.resolve("user-events-schema.json").toString, dataDir.toString,
      base.resolve("users.csv").toString, None,
      base.resolve("users_schema_mismatches").toString)
    val r = EntityPipeline.run(spark, conf, V1, base.resolve("errors.log").toString)
    assert(r.metrics == EtlMetrics(1, 0, 1))
    // quarantine copy must resolve the DECODED path (a %20 path would throw)
    assert(java.nio.file.Files.exists(
      base.resolve("users_schema_mismatches").resolve("my event.json")))
    val log = java.nio.file.Files.readString(base.resolve("errors.log"))
    assert(log.contains("my event.json") && !log.contains("%20"))
  }
}
