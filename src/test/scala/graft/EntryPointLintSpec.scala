package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the set of runnable mains and session builders from growing back:
  * one-off probes belong in `graft.tools.Probe` or `perfbench/`, every
  * session is built through [[GraftSession.local]], and every parquet read
  * is given its schema. */
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
}
