package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the set of runnable mains and session builders from growing back:
  * one-off probes belong in `graft.tools.Probe` or `perfbench/`, every
  * session is built through [[GraftSession.local]], every parquet read
  * is given its schema, every ETL and storage file write creates its
  * local files through `graft.storage.LocalFs`, and every txlog manifest
  * is published from one commit loop. */
class EntryPointLintSpec extends AnyFunSuite {

  private lazy val sources: Seq[(Path, Seq[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root; no ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readAllLines(p).asScala.toSeq)
    finally walk.close()
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/**") || t.startsWith("//")
  }

  test("the runnable mains are exactly the eight entry points and TxContend's worker") {
    // the enclosing object of a `def main(` is the nearest object
    // declaration above it, modifiers (`private[x]`, `case`) allowed
    val objectDecl = """^\s*(?:[\w\[\]]+\s+)*object\s+(\w+)""".r.unanchored
    val mains = sources.flatMap { case (_, lines) =>
      var current = Option.empty[String]
      lines.filterNot(isComment).flatMap { line =>
        line match {
          case objectDecl(name) => current = Some(name)
          case _ =>
        }
        if (line.contains("def main(")) current else None
      }
    }
    // TxContendWorker is the entry of the JVMs TxContend spawns
    assert(mains.sorted == Seq("Bench", "Verify", "Runner", "StreamDemo", "Sf1Gate",
      "ScaleUp", "TxContend", "TxContendWorker", "Probe").sorted)
  }

  test("SparkSession.builder() is called only in GraftSession (doc examples exempt)") {
    val sites = for {
      (path, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains("SparkSession.builder()") && !isComment(line)
    } yield s"${path.getFileName}:${i + 1}"
    assert(sites.size == 1 && sites.head.startsWith("GraftSession.scala:"), sites)
  }

  test("no parquet read without a schema: each would infer it in a Spark job") {
    // `graft.Tables.parquet` reads the schema from one footer on the driver
    val sites = for {
      (path, lines) <- sources
      (line, i) <- lines.zipWithIndex
      if line.contains(".read.parquet(") && !isComment(line)
    } yield s"${path.getFileName}:${i + 1}"
    assert(sites.isEmpty, sites)
  }

  test("every ETL and storage file write passes LocalFs.WriteOptions") {
    // without them Hadoop's local file system runs a chmod process per
    // file and directory the write creates
    val sites = for {
      (path, lines) <- sources
      if path.toString.contains("graft/etl/") || path.toString.contains("graft/storage/")
      line <- EntryPointLintSpec.unguardedWrites(lines.filterNot(isComment))
    } yield s"${path.getFileName}: $line"
    assert(sites.isEmpty, sites)
  }

  test("graft/storage publishes manifests from one commit loop") {
    // TxLog.casCommit is the only caller of publish; a second caller or
    // a hand-rolled `while (attempt` retry loop is a copy of it
    def sites(p: scala.util.matching.Regex) = for {
      (path, lines) <- sources
      if path.toString.contains("graft/storage/")
      (line, i) <- lines.zipWithIndex
      if !isComment(line) && p.findFirstIn(line).isDefined
    } yield s"${path.getFileName}:${i + 1}"
    assert(sites("""(?<!def )\bpublish\(""".r).size == 1, sites("""(?<!def )\bpublish\(""".r))
    assert(sites("""while \(attempt""".r).isEmpty)
  }

  test("the write lint finds an unguarded writer chain, one line or several") {
    val code = Seq(
      "df.write.options(LocalFs.WriteOptions).mode(\"append\").csv(out)",
      "df.write.mode(\"append\").text(out)",
      "df",
      "  .write.options(LocalFs.WriteOptions)",
      "  .parquet(dir)",
      "df.write",
      "  .mode(SaveMode.ErrorIfExists).parquet(dir)",
      "out.write(bytes)",
      "import org.apache.spark.sql.connector.write.{BatchWrite, Write}",
      "GraftParquetIO.writerFactory(spark, schema,",
      "  LocalFs.WriteOptions ++ extra)",
      "GraftParquetIO.writerFactory(spark, schema, extra)")
    assert(EntryPointLintSpec.unguardedWrites(code) == Seq(
      "df.write.mode(\"append\").text(out)",
      "df.write",
      "GraftParquetIO.writerFactory(spark, schema, extra)"))
  }
}

object EntryPointLintSpec {
  private val writerChain = """\.write\s*\.\s*[a-z]""".r
  private val writerEnd = """\.(?:parquet|csv|text|json|orc|save|saveAsTable|insertInto)\s*\(""".r
  private val factoryCall = """GraftParquetIO\.writerFactory\(""".r

  /** The first line of each `DataFrameWriter` chain (from `.write` to the
    * call that names the output) and of each executor-side parquet writer
    * factory in `lines` that does not pass `LocalFs.WriteOptions`. */
  def unguardedWrites(lines: Seq[String]): Seq[String] = {
    val text = lines.mkString("\n")
    def lineAt(i: Int): String = lines(text.substring(0, i).count(_ == '\n')).trim
    val chains = writerChain.findAllMatchIn(text).map { m =>
      val end = writerEnd.findFirstMatchIn(text.substring(m.start)).fold(text.length)(m.start + _.end)
      (m.start, text.substring(m.start, end))
    }
    val factories = factoryCall.findAllMatchIn(text).map { m =>
      var depth = 1
      var i = m.end
      while (i < text.length && depth > 0) {
        if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
        i += 1
      }
      (m.start, text.substring(m.start, i))
    }
    (chains ++ factories).toSeq.sortBy(_._1).collect {
      case (at, call) if !call.contains("LocalFs.WriteOptions") => lineAt(at)
    }
  }
}
