package graft.storage

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** A manifest that does not decode fails every read of its table
  * loudly: [[TxLog.allManifests]] throws an error naming the manifest's
  * path and version, never returns a log with the manifest skipped or
  * partly read, and does not cache the failure — putting the intact
  * file back makes the next read succeed. Torn writes are the case
  * that matters: a DELETE manifest cut right after its `files` array
  * is still a well-formed prefix, and reading it without its `removes`
  * would bring the deleted rows back. */
class TxManifestCorruptSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val legacy = TxJsonGolden.manifests.toMap.apply("legacy")

  private def golden(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/txlog-golden/$name.json")
    try in.readAllBytes() finally in.close()
  }

  /** A log holding the legacy golden at v0 and `target` at its own
    * version; returns (table, target's manifest file). */
  private def table(target: TxLog.Manifest): (String, Path) = {
    val t = Files.createTempDirectory("txcorrupt_").resolve("t")
    val log = Files.createDirectories(t.resolve("_txlog"))
    Files.write(log.resolve(f"v${0L}%020d.json"), golden("legacy"))
    (t.toString, log.resolve(f"v${target.version}%020d.json"))
  }

  // every write gets a fresh modification time, so no two contents of
  // one path can share the (length, modTime) the parse cache keys on
  private var clock = 1000000000000L
  private def put(p: Path, bytes: Array[Byte]): Unit = {
    Files.write(p, bytes)
    clock += 1000L
    Files.setLastModifiedTime(p, FileTime.fromMillis(clock))
  }

  /** Reading the log with `bad` in `p`'s slot must fail naming the
    * slot; with the intact bytes back it must read both manifests. */
  private def assertLoud(t: String, p: Path, m: TxLog.Manifest,
                         intact: Array[Byte], bad: Array[Byte], what: String): Unit = {
    put(p, bad)
    val e = intercept[IllegalStateException](TxLog.allManifests(spark, t))
    assert(e.getMessage.contains(p.getFileName.toString) &&
      e.getMessage.contains(s"version ${m.version}"),
      s"$what: error must name the manifest path and version: ${e.getMessage}")
    intercept[IllegalStateException](TxLog.headVersion(spark, t))
    put(p, intact)
    assert(TxLog.allManifests(spark, t) == Seq(legacy, m), s"$what: intact read")
  }

  for ((name, m) <- TxJsonGolden.manifests if name != "legacy")
    test(s"every strict prefix of manifest golden '$name' fails the read loudly") {
      val intact = golden(name)
      val (t, p) = table(m)
      put(p, intact)
      assert(TxLog.allManifests(spark, t) == Seq(legacy, m))
      for (n <- 0 until intact.length)
        assertLoud(t, p, m, intact, intact.take(n), s"prefix of $n bytes")
    }

  test("a DELETE manifest torn right after its files array does not lose its removes") {
    val m = TxJsonGolden.manifests.toMap.apply("removes")
    val intact = golden("removes")
    val text = new String(intact, UTF_8)
    val cut = text.indexOf(", \"removes\": ")
    assert(cut > 0)
    val (t, p) = table(m)
    assertLoud(t, p, m, intact, text.take(cut).getBytes(UTF_8), "cut after files")
  }

  test("trailing junk, missing required keys and wrongly typed fields fail the read loudly") {
    val m = TxJsonGolden.manifests.toMap.apply("all")
    val intact = golden("all")
    val text = new String(intact, UTF_8)
    val (t, p) = table(m)
    for (junk <- Seq("}", "x", " {}", ", \"removes\": []}", "\n{\"version\": 4}"))
      assertLoud(t, p, m, intact, (text + junk).getBytes(UTF_8), s"trailing '$junk'")
    val mapper = new ObjectMapper()
    def arr(o: ObjectNode, k: String) = o.get(k).asInstanceOf[ArrayNode]
    def first(o: ObjectNode, k: String) = arr(o, k).get(0).asInstanceOf[ObjectNode]
    def edited(f: ObjectNode => Unit): Array[Byte] = {
      val o = mapper.readTree(intact).asInstanceOf[ObjectNode]
      f(o)
      mapper.writeValueAsBytes(o)
    }
    for (k <- Seq("version", "writer_id", "batch_id", "files", "checkpoint"))
      assertLoud(t, p, m, intact, edited(_.remove(k)), s"missing '$k'")
    def wrong(what: String)(f: ObjectNode => Unit): (String, ObjectNode => Unit) = (what, f)
    val wrongTypes = Seq(
      wrong("version as string")(_.put("version", "3")),
      wrong("version as fraction")(_.put("version", 3.5)),
      wrong("batch_id beyond a long")(
        _.put("batch_id", new java.math.BigInteger("99999999999999999999"))),
      wrong("checkpoint as string")(_.put("checkpoint", "false")),
      wrong("writer_id as number")(_.put("writer_id", 7)),
      wrong("files as string")(_.put("files", "data/x.parquet")),
      wrong("files holding a number")(arr(_, "files").add(1)),
      wrong("ts as null")(_.putNull("ts")),
      wrong("removes as object")(_.putObject("removes")),
      wrong("props entry without v")(first(_, "props").remove("v")),
      wrong("cmap as array")(_.putArray("cmap")),
      wrong("stats rows as string")(first(_, "stats").put("rows", "10")),
      wrong("adopts holding a string")(arr(_, "adopts").add("2")))
    for ((what, f) <- wrongTypes)
      assertLoud(t, p, m, intact, edited(f), what)
  }
}
