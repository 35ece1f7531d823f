package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Scale mode writes the same data as fidelity mode, laid out for a
  * cluster: part files under `<sink>.d/` with a header each, error-log
  * part files under `errors.log.d/`, and the same quarantine copies.
  * Every case runs twice into one directory, so the append semantics are
  * compared as well as one run's output. */
class EtlParitySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** One CSV line as fields. Reads both dialects: Python's (a quote
    * inside a quoted field doubled, an empty field bare) and Spark's (a
    * quote escaped with a backslash, an empty field written `""`). */
  private def fields(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '\\' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.toString; cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.toString
    out.result()
  }

  private def lines(text: String): Seq[String] =
    text.split("\r?\n").toSeq.filter(_.nonEmpty)

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq

  /** (header, sorted data rows) of a CSV sink. Fidelity: one file, one
    * header. Scale: every part file starts with the header and holds it
    * once. */
  private def csv(base: Path, name: String, fidelity: Boolean): (Seq[String], Seq[Seq[String]]) = {
    val files = if (fidelity) Seq(base.resolve(name)) else partFiles(base.resolve(s"$name.d"))
    assert(files.nonEmpty, s"$name: no output")
    val perFile = files.map(f => lines(read(f)))
    val header = perFile.head.head
    perFile.zip(files).foreach { case (ls, f) =>
      assert(ls.head == header, s"$f does not start with the header")
      assert(ls.count(_ == header) == 1, s"$f: header not written exactly once")
    }
    (fields(header), perFile.flatMap(_.tail).map(fields).sortBy(_.mkString("\u0000")))
  }

  /** Sorted (entity dir/file name, message) pairs of the error log. */
  private def errorPairs(base: Path, fidelity: Boolean): Seq[(String, String)] = {
    val files = if (fidelity) Seq(base.resolve("errors.log")) else partFiles(base.resolve("errors.log.d"))
    files.flatMap(f => lines(read(f))).map { l =>
      val rest = l.split(", ERROR, SCHEMA ERR, ", 2)
      assert(rest.length == 2, s"bad error line: $l")
      val Array(path, msg) = rest(1).split(", ", 2)
      val p = java.nio.file.Paths.get(path)
      (s"${p.getParent.getFileName}/${p.getFileName}", msg)
    }.sorted
  }

  private def quarantine(base: Path, entity: String): Map[String, Seq[Byte]] = {
    val dir = base.resolve(s"${entity}_schema_mismatches")
    Files.list(dir).iterator().asScala
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
  }

  for (mode <- Seq(V1, V2); replace <- Seq(true, false)) {
    test(s"$mode, replace_missing_data=$replace: scale outputs equal fidelity outputs over two appends") {
      def twice(fidelity: Boolean): (Path, Seq[Map[String, EtlMetrics]]) = {
        val base = Files.createTempDirectory(s"etl_parity_")
        EtlFixtures.writeCorpus(base)
        val entities = Config.builtin(base.toString, mode, replace)
        val runs = Seq.fill(2)(Runner.run(spark, entities, mode,
          base.resolve("errors.log").toString, fidelity))
        (base, runs)
      }
      val (fid, fidRuns) = twice(fidelity = true)
      val (scale, scaleRuns) = twice(fidelity = false)

      assert(scaleRuns == fidRuns)
      assert(fidRuns.head("users") == EtlMetrics(9, 7, 2))
      assert(fidRuns.head("cards") == EtlMetrics(4, 1, 3))

      val sinks = Seq("users.csv", "cards.csv") ++ (if (mode == V2) Seq("metadata.csv") else Nil)
      sinks.foreach { s =>
        val (fh, fRows) = csv(fid, s, fidelity = true)
        val (sh, sRows) = csv(scale, s, fidelity = false)
        assert(sh == fh, s)
        assert(sRows == fRows, s)
        assert(fRows.nonEmpty && fRows.size % 2 == 0, s"$s: two appends of the same rows")
      }
      // users: 7 valid (+ f11 kept when replacing); cards: 1 (+ 3 kept)
      assert(csv(fid, "users.csv", fidelity = true)._2.size == 2 * (if (replace) 8 else 7))
      assert(csv(fid, "cards.csv", fidelity = true)._2.size == 2 * (if (replace) 4 else 1))

      val errs = errorPairs(fid, fidelity = true)
      assert(errorPairs(scale, fidelity = false) == errs)
      assert(errs.size == 2 * 5)
      assert(errs.exists { case (f, m) => f == "users/f09.json" && m.contains("is not of type 'number'") })

      Seq("users" -> Set("f09.json", "f11.json"),
        "cards" -> Set("f03.json", "f12.json", "f13.json")).foreach { case (e, names) =>
        val q = quarantine(fid, e)
        assert(q.keySet == names)
        assert(quarantine(scale, e) == q)
        names.foreach(n => assert(q(n) == Files.readAllBytes(fid.resolve(s"$e/$n")).toSeq))
      }
    }
  }
}
