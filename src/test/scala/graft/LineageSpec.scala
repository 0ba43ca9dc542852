package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Lineage]] is the only code under `src/main` that checkpoints a
  * Dataset, so one conf (`spark.graft.checkpointDir`) decides the
  * lineage policy of every truncation. */
class LineageSpec extends AnyFunSuite {

  test("no localCheckpoint or Dataset checkpoint call under src/main outside Lineage.scala") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(files.size > 50)
    // Canary.checkpoint (Bench, GraphStress) takes a drift reading; it
    // is not a Dataset checkpoint
    val call = """(?<!canary)\.(localCheckpoint|checkpoint)\b""".r
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield (f.getFileName.toString, s"$f:${i + 1}: ${line.trim}")
    val (own, stray) = hits.partition(_._1 == "Lineage.scala")
    assert(own.nonEmpty, "Lineage.scala holds no checkpoint call")
    assert(stray.isEmpty, stray.map(_._2).mkString("\n"))
  }
}
