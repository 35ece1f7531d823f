package graft.storage

import TxLog.{ColMap, DvEntry, EqDelEntry, Manifest}
import TxStats.{ColStat, FileStats}

/** The values behind the golden documents in `txlog-golden/`: one
  * manifest per optional key, a manifest from before `ts` and `stats`,
  * and a view document with escapes. The files were written by the
  * original hand-rolled renderer, so they pin today's on-disk bytes. */
object TxJsonGolden {
  private val f0 = "data/0b1e2f33-aaaa-bbbb-cccc-000000000001/part-00000-0-s0.parquet"
  private val f1 = "data/0b1e2f33-aaaa-bbbb-cccc-000000000001/part-00001-1-s0.parquet"
  private val base = Manifest(3L, Seq(f0, f1), "ingest", 7L, checkpoint = false,
    ts = 1700000000123L)

  val manifests: Seq[(String, Manifest)] = Seq(
    "legacy" -> Manifest(0L, Seq(f0), "w", 0L, checkpoint = false),
    "ts" -> base,
    "empty-files" -> base.copy(files = Seq.empty),
    "removes" -> base.copy(removes = Seq(f0, f1)),
    "dvs" -> base.copy(dvs = Seq(DvEntry(f0, "dv/5c1d.bin", 3L),
      DvEntry(f1, "dv/77aa.bin", 1L))),
    "eqdels" -> base.copy(eqdels = Seq(EqDelEntry("eqdel/9f00.parquet",
      Seq("col_1", "col_2"), 5L))),
    "eqdrops" -> base.copy(eqdrops = Seq("eqdel/9f00.parquet")),
    "branch" -> base.copy(branch = Some("dev")),
    "adopts" -> base.copy(files = Seq.empty, writerId = "branch-ff-1",
      batchId = 0L, adopts = Seq(4L, 5L, 9L)),
    "nrid" -> base.copy(nextRid = 108L),
    "schema" -> base.copy(schema =
      Some("id BIGINT NOT NULL,v STRING COMMENT 'a \"quoted\" note'")),
    "pcols" -> base.copy(pcols = Seq("days(ts)", "g")),
    "changes" -> base.copy(changes = Seq("changes/1f2e/part-00000.parquet")),
    "props" -> base.copy(props = Some(Seq("graft.isolation" -> "writeSerializable",
      "note" -> "say \"hi\""))),
    "props-empty" -> base.copy(props = Some(Seq.empty)),
    "cmap" -> base.copy(cmap = Some(ColMap(Seq("a" -> "col_1", "b" -> "b"),
      Seq("col_0")))),
    "cmap-empty" -> base.copy(cmap = Some(ColMap(Seq.empty, Seq.empty))),
    "tokens" -> base.copy(checkpoint = true, tokens = Seq("ingest" -> 7L, "nightly" -> 12L)),
    "stats" -> base.copy(stats = Seq(
      FileStats(f0, 100L, Seq(
        ColStat("id", "long", has = true, "0", "99", 0L, kmv = Seq(-5L, 17L, 9000L)),
        ColStat("g", "string", has = true, "alpha", "gamma", 2L, exact = true)),
        bytes = 4096L, parts = Seq("g" -> "x", "d" -> "2024-01-01"), firstRowId = 200L),
      FileStats(f1, 0L, Seq(ColStat("id", "long", has = false, "", "", 0L))))),
    "escapes" -> base.copy(
      writerId = "w \"q\" \\ \n\t\r\u0001\u001f\u007f é漢😀 \", \"batch_id\": 9, \"files\": [\"x\"]",
      stats = Seq(FileStats(f0, 1L, Seq(ColStat("s", "string", has = true,
        "\", \"max\": \"zz", "line\nbreak", 0L, exact = true))))),
    "all" -> base.copy(removes = Seq(f1), dvs = Seq(DvEntry(f0, "dv/5c1d.bin", 3L)),
      eqdels = Seq(EqDelEntry("eqdel/9f00.parquet", Seq("col_1"), 5L)),
      eqdrops = Seq("eqdel/1111.parquet"), branch = Some("dev"), adopts = Seq(2L),
      nextRid = 300L, schema = Some("id BIGINT,g STRING"), pcols = Seq("g"),
      changes = Seq("changes/1f2e/part-00000.parquet"),
      props = Some(Seq("k" -> "v")), cmap = Some(ColMap(Seq("id" -> "id"), Seq.empty)),
      tokens = Seq("ingest" -> 6L),
      stats = Seq(FileStats(f0, 10L, Seq(ColStat("id", "long", has = true, "1", "10", 0L)),
        bytes = 512L, firstRowId = 0L))))

  val views: Seq[(String, GraftViews.Stored)] = Seq(
    "view" -> GraftViews.Stored(
      sql = "SELECT \"a\"\tAS x\nFROM t\r\nWHERE y = 'b\\c' -- \b\u001f é",
      currentCatalog = "graft", currentNamespace = Seq("db", "sub\tns"),
      schemaDdl = "x STRING COMMENT 'tab\there'",
      queryColumnNames = Seq("a"), columnAliases = Seq("x"),
      columnComments = Seq("a \"quoted\"\ncomment"),
      properties = Map("z" -> "last", "comment" -> "line1\nline2", "a" -> "\"q\"")),
    "view-empty" -> GraftViews.Stored("SELECT 1", "graft", Seq.empty, "1 INT",
      Seq("1"), Seq.empty, Seq.empty, Map.empty))
}

/** The Jackson codec against the golden documents: each golden decodes
  * to its value, and each value encodes to the golden's exact bytes. */
class TxJsonGoldenSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TxJsonGolden._

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/txlog-golden/$name.json")
    assert(in != null, s"missing golden txlog-golden/$name.json")
    try in.readAllBytes() finally in.close()
  }
  private def utf8(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)

  for ((name, m) <- manifests) test(s"manifest golden '$name' decodes and re-encodes byte for byte") {
    val bytes = golden(name)
    assert(TxJson.decodeManifest(utf8(bytes)) == m)
    val encoded = TxJson.encodeManifest(m).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(utf8(encoded) == utf8(bytes))
    assert(encoded.sameElements(bytes))
  }

  for ((name, v) <- views) test(s"view golden '$name' decodes and re-encodes byte for byte") {
    val bytes = golden(name)
    assert(TxJson.decodeView(utf8(bytes)) == v)
    val encoded = TxJson.encodeView(v).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(utf8(encoded) == utf8(bytes))
    assert(encoded.sameElements(bytes))
  }

  test("decoding accepts any key order and any valid JSON escape") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // re-serialize with Jackson's default escapes (\t, \r, \b short
    // forms, upper-case hex) and every object's keys reversed
    def reversed(n: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
      if (n.isObject) {
        val o = mapper.createObjectNode()
        val keys = Seq.newBuilder[String]
        n.fieldNames.forEachRemaining(k => keys += k)
        keys.result().reverse.foreach(k => o.set[com.fasterxml.jackson.databind.JsonNode](k, reversed(n.get(k))))
        o
      } else if (n.isArray) {
        val a = mapper.createArrayNode()
        n.elements.forEachRemaining(e => a.add(reversed(e)))
        a
      } else n
    for ((name, m) <- manifests) {
      val text = mapper.writeValueAsString(reversed(mapper.readTree(golden(name))))
      assert(TxJson.decodeManifest(text) == m, s"golden '$name' as $text")
    }
    for ((name, v) <- views) {
      val text = mapper.writeValueAsString(reversed(mapper.readTree(golden(name))))
      assert(TxJson.decodeView(text) == v, s"golden '$name' as $text")
    }
    val ascii = "{\"version\": 1, \"checkpoint\": true, \"writer_id\": \"\\u0077\\/\\t\", " +
      "\"batch_id\": 2, \"files\": []}"
    assert(TxJson.decodeManifest(ascii) == Manifest(1L, Seq.empty, "w/\t", 2L, checkpoint = true))
  }
}
