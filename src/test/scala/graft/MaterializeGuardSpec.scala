package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every checkpoint in `src/main` goes through [[Tables.materialize]],
  * so whether intermediates survive a lost executor is decided in one
  * place. A new raw `localCheckpoint(` or `.checkpoint(` call anywhere
  * else fails here.
  */
class MaterializeGuardSpec extends AnyFunSuite {

  private val Call = """localCheckpoint\(|\.checkpoint\(""".r

  /** Code lines of `p`: comment lines dropped, trailing `//` cut. */
  private def codeLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .map(_.replaceAll("\\s//.*$", ""))

  test("src/main checkpoints only inside Tables.materialize") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val calls = for {
      p <- sources
      line <- codeLines(p)
      if Call.findFirstIn(line).isDefined
    } yield s"$p: $line"
    assert(calls.sorted == Seq(
      "src/main/scala/graft/Tables.scala: if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)",
      "src/main/scala/graft/Tables.scala: else df.localCheckpoint(eager = true)").sorted,
      calls.mkString("\n"))
  }
}
