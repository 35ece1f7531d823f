package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Golden end-to-end (SURVEY §5.2 item 2): run the full pipeline on the
  * FIXTURES.md corpus; compare CSV content against the captured reference
  * outputs (FIXTURES §2), honoring divergences D1 (deterministic order),
  * D2 (parse routed not crashed), D4 (null-safe keeps), D5 (header-once).
  */
class EtlGoldenSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  def readCsv(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\r\n").toSeq.filter(_.nonEmpty)

  def freshRun(mode: EtlMode): (Path, Map[String, EtlMetrics]) = {
    val base = Files.createTempDirectory(s"etl_golden_")
    EtlFixtures.writeCorpus(base)
    val entities = Config.builtin(base.toString, mode)
    val metrics = Runner.run(spark, entities, mode,
      base.resolve("errors.log").toString)
    (base, metrics)
  }

  test("v2 golden: users.csv rows match verified reference output") {
    val (base, metrics) = freshRun(V2)
    val users = readCsv(base.resolve("users.csv"))
    assert(users.head == "id,prefix,name,suffix,address,job,score,event_id")
    assert(users(1) ==
      "945,,Lawrence Welch,,\"8279 Rodriguez Ports Paulbury, VI 89148\"," +
        "Commercial horticulturist,0.8627791036375512,0a1bc396-f73d-4919-94c4-84077fdf7456")
    assert(users(2) ==
      "101,,Alice Stone,,1 Main St,Site reliability engineer,0.5,00000000-0000-4000-8000-000000000004")
    assert(users(3) ==
      "102,Dr.,Jane Doe,PhD,2 Oak Ave,Architect,0.25,00000000-0000-4000-8000-000000000005")
    assert(users(4) ==
      "103,Mr.,Bob Smith,,3 Elm Rd,Baker,0.75,00000000-0000-4000-8000-000000000006")
    assert(users(5) ==
      "104,,Ann Lee,Jr.,4 Pine Ln,Chef,0.125,00000000-0000-4000-8000-000000000007")
    assert(users(6) ==
      "105,,Juan de la Cruz Santos III,,5 Birch Blvd,Pilot,1.5,00000000-0000-4000-8000-000000000008")
    // f09 (type mismatch) dropped; f10 passes with odd formats verbatim
    assert(users(7) ==
      "107,,Odd Dates,,7 Walnut Way,Scribe,0.0625,not-a-uuid")
    // f11 (missing job): kept with blank job (D4; reference crashes)
    assert(users(8) ==
      "108,,No Job,,8 Maple Dr,,0.375,00000000-0000-4000-8000-000000000011")
    assert(users.size == 9)
    assert(metrics("users") == EtlMetrics(files = 9, valid = 7, invalid = 2))

    val cards = readCsv(base.resolve("cards.csv"))
    assert(cards.head ==
      "id,user_id,prefix,created_by_name,suffix,updated_at,created_at,active,event_id")
    assert(cards(1) ==
      "2079,745,,Troy Rosario,,2023-10-23 23:18:15,2023-10-23 23:16:17,True,0a4d29d2-b6dd-42a9-88af-840ead26202f")
    // F3: kept with blank user_id (replace_missing_data gate)
    assert(cards(2) ==
      "4965,,,Justin Miller,,2023-10-23 23:26:31,2023-10-23 23:26:31,False,0088d1de-f426-4dce-bc7f-3207e151f337")
    // F12: missing created_by_name → name columns blank (D4 keep)
    assert(cards(3) ==
      "5001,300,,,,2023-10-23 23:30:00,2023-10-23 23:30:00,True,00000000-0000-4000-8000-000000000012")
    // F13b: missing boolean → blank active, NOT "False"
    assert(cards(4) ==
      "5002,301,,No Active,,2023-10-23 23:31:00,2023-10-23 23:31:00,,00000000-0000-4000-8000-000000000013")
    assert(metrics("cards") == EtlMetrics(files = 4, valid = 1, invalid = 3))

    // unified metadata: users rows then cards rows, one shared file
    val meta = readCsv(base.resolve("metadata.csv"))
    assert(meta.head == "type,event_at,event_id")
    assert(meta(1) == "user,2023-10-23 22:55:01,0a1bc396-f73d-4919-94c4-84077fdf7456")
    assert(meta.count(_.startsWith("user,")) == 8)
    assert(meta.count(_.startsWith("card,")) == 4)
    assert(meta.contains("card,2023-10-23 23:18:15,0a4d29d2-b6dd-42a9-88af-840ead26202f"))

    // error log: (class, field, filename) triples per SURVEY §7.4
    val errors = Files.readAllLines(base.resolve("errors.log")).asScala
    assert(errors.size == 5)
    assert(errors.exists(l => l.contains("f13.json") &&
      l.contains("'active' is a required property")))
    assert(errors.exists(l => l.contains("f09.json") &&
      l.contains("'high' is not of type 'number'")))
    assert(errors.exists(l => l.contains("f11.json") &&
      l.contains("'job' is a required property")))
    assert(errors.exists(l => l.contains("f03.json") &&
      l.contains("'user_id' is a required property")))
    assert(errors.exists(l => l.contains("f12.json") &&
      l.contains("'created_by_name' is a required property")))
    assert(errors.forall(_.contains(", ERROR, SCHEMA ERR, ")))

    // quarantine: verbatim copies of offending files
    val uq = base.resolve("users_schema_mismatches")
    assert(Files.list(uq).iterator().asScala.map(_.getFileName.toString).toSet
      == Set("f09.json", "f11.json"))
    val cq = base.resolve("cards_schema_mismatches")
    assert(Files.list(cq).iterator().asScala.map(_.getFileName.toString).toSet
      == Set("f03.json", "f12.json", "f13.json"))
    assert(Files.readAllBytes(cq.resolve("f03.json")).sameElements(
      Files.readAllBytes(base.resolve("cards/f03.json"))))
  }

  test("v1 golden: flat columns, no name split, no event_id FK column") {
    val (base, metrics) = freshRun(V1)
    val users = readCsv(base.resolve("users.csv"))
    assert(users.head == "id,name,address,job,score,type,event_at,event_id")
    assert(users(1) ==
      "945,Lawrence Welch,\"8279 Rodriguez Ports Paulbury, VI 89148\"," +
        "Commercial horticulturist,0.8627791036375512,user,2023-10-23 22:55:01," +
        "0a1bc396-f73d-4919-94c4-84077fdf7456")
    // v1 does NOT split names: 4-token name stays whole
    assert(users(3).startsWith("102,Dr. Jane Doe PhD,"))
    val cards = readCsv(base.resolve("cards.csv"))
    assert(cards.head ==
      "id,user_id,created_by_name,updated_at,created_at,active,type,event_at,event_id")
    assert(!Files.exists(base.resolve("metadata.csv")))
    assert(metrics("users").files == 9)
  }

  test("header-once across appends (D5: v2 tell()==0 semantics everywhere)") {
    val (base, _) = freshRun(V2)
    val firstLen = readCsv(base.resolve("users.csv")).size
    // re-run into the SAME outputs: appends rows, no duplicate header
    val entities = Config.builtin(base.toString, V2)
    Runner.run(spark, entities, V2, base.resolve("errors.log").toString)
    val users = readCsv(base.resolve("users.csv"))
    assert(users.count(_ == "id,prefix,name,suffix,address,job,score,event_id") == 1)
    assert(users.size == 2 * firstLen - 1)
  }

  test("discard mode: replace_missing_data=false drops required-missing") {
    val base = Files.createTempDirectory("etl_discard_")
    EtlFixtures.writeCorpus(base)
    val entities = Config.builtin(base.toString, V2, replaceMissingData = false)
    val metrics = Runner.run(spark, entities, V2, base.resolve("errors.log").toString)
    val cards = readCsv(base.resolve("cards.csv"))
    assert(cards.size == 2) // header + F2 only; F3/F12/F13 discarded
    assert(metrics("cards") == EtlMetrics(4, 1, 3))
  }

  test("TOML-configured run (entry 3, SURVEY §3.3) drives the same pipeline") {
    val base = Files.createTempDirectory("etl_toml_")
    EtlFixtures.writeCorpus(base)
    Files.writeString(base.resolve("config.toml"),
      """# reference-shaped config (with the data_dir typo fixed)
        |[[data]]
        |name = "cards"
        |schema_file = "card-events-schema.json"
        |output_file = "cards.csv"
        |data_dir = "cards"
        |schema_mismatch_dir = "cards_schema_mismatches"
        |[[data]]
        |name = "users"
        |schema_file = "user-events-schema.json"
        |output_file = "users.csv"
        |data_dir = "users"
        |schema_mismatch_dir = "users_schema_mismatches"
        |""".stripMargin)
    val entities = Config.fromToml(base.resolve("config.toml").toString, base.toString, V2)
    assert(entities.map(_.name) == Seq("cards", "users")) // TOML order preserved
    val metrics = Runner.run(spark, entities, V2, base.resolve("errors.log").toString)
    assert(metrics("users").files == 9 && metrics("cards").files == 4)
    // cards processed FIRST → metadata.csv starts with card rows
    val meta = readCsv(base.resolve("metadata.csv"))
    assert(meta(1).startsWith("card,"))
  }

  test("scale mode: error log + quarantine stay executor-side on a majority-invalid corpus") {
    // a bad upstream at 100 TB means MOST records are invalid; scale
    // mode must flow them through the distributed sinks with no driver
    // collect of the invalid set (EntityPipeline routes fidelity=false
    // to ErrorLogSink.appendDistributed over QuarantineSink.copying's
    // pass-through of the invalid rows: one executor-side job)
    val base = Files.createTempDirectory("etl_scale_")
    EtlFixtures.writeCorpus(base)
    val users = base.resolve("users")
    // 40 extra invalid files (string score → type error) — invalid
    // becomes the 42-of-49 majority of the corpus
    (0 until 40).foreach { i =>
      Files.writeString(users.resolve(f"z_bad_$i%02d.json"),
        s"""{"metadata": {"type": "user", "event_at": "2023-10-23 22:55:01",
           | "event_id": "00000000-0000-4000-8000-0000000009$i%02d"},
           | "payload": {"id": ${1000 + i}, "name": "Bad $i", "address": "9 Bad St",
           |  "job": "None", "score": "not-a-number"}}""".stripMargin)
    }
    val entities = Config.builtin(base.toString, V2).filter(_.name == "users")
    val metrics = Runner.run(spark, entities, V2,
      base.resolve("errors.log").toString, fidelity = false)
    assert(metrics("users").files == 49 && metrics("users").invalid == 42)
    // distributed error log: part files under errors.log.d, one line per
    // invalid file, reference line shape
    val logDir = base.resolve("errors.log.d")
    assert(Files.isDirectory(logDir))
    val lines = Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty)).toSeq
    assert(lines.size == 42, s"expected 42 error lines, got ${lines.size}")
    assert(lines.forall(_.contains(", ERROR, SCHEMA ERR, ")))
    assert(lines.count(_.contains("is not of type 'number'")) == 41) // 40 + F9
    // executor-side quarantine copied every offending file verbatim
    val quarantined = Files.list(base.resolve("users_schema_mismatches"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(quarantined.size == 42)
    assert(quarantined.contains("z_bad_00.json") && quarantined.contains("f09.json"))
    assert(Files.readAllBytes(base.resolve("users_schema_mismatches/z_bad_07.json"))
      .sameElements(Files.readAllBytes(users.resolve("z_bad_07.json"))))
    // no single-file errors.log was written in scale mode
    assert(!Files.exists(base.resolve("errors.log")))
  }
}
