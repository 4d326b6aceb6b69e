package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one-session-factory STRUCTURAL INVARIANT: `GraftSession.local` is
  * the only place in the program that builds a SparkSession, so Bench,
  * Verify and the dev tools cannot drift apart in partitioning, scratch
  * or extension settings — the oracle gate then checks exactly the
  * configuration the bench measures. A source scan (the
  * CollectInventorySpec discipline): a builder anywhere else in
  * `src/main`, even on a path no fixture runs, fails here. */
class SessionInventorySpec extends AnyFunSuite {

  private val factory = Paths.get("src/main/scala/graft/GraftSession.scala")

  test("session inventory: SparkSession.builder appears in src/main only inside GraftSession.scala") {
    val sites = SessionInventorySpec.sites(_.contains("SparkSession.builder"))
    val stray = sites.filterNot(_._1 == factory)
    assert(stray.isEmpty, "SparkSession.builder outside GraftSession.scala — build the " +
      "session with GraftSession.local instead: " +
      stray.map { case (p, n) => s"$p:$n" }.mkString(", "))
    assert(sites.count(_._1 == factory) === 1, "GraftSession.scala must hold exactly one builder")
  }
}

object SessionInventorySpec {
  /** Every `src/main` Scala line that `matches`, as (file, line number). */
  def sites(matches: String => Boolean): Seq[(Path, Int)] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter { case (l, _) => matches(l) }
          .map { case (_, i) => (p, i + 1) }
      }
    finally walk.close()
  }
}
