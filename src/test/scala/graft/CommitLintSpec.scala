package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.Commit]] is the one module under src/main that knows the
  * on-disk commit policy (the [[SessionFactorySpec]] source-scan idea). */
class CommitLintSpec extends AnyFunSuite {

  /** The files under src/main/scala/graft, relative to it, that contain `needle`. */
  private def filesWith(needle: String): List[String] =
    SourceScan.filesWhere("src/main/scala/graft")(_.contains(needle))

  test("only io/Commit.scala and IndexCache's content-addressed publish rename") {
    assert(filesWith(".rename(") == List("io/Commit.scala", "queries/IndexCache.scala"))
  }

  test("the commit siblings are named only in io/Commit.scala") {
    for (suffix <- Seq("__tmp", "__old", "__append", "__setaside"))
      assert(filesWith(suffix) == List("io/Commit.scala"), suffix)
  }

  test("no file outside jobs/ mentions ScrapeJob") {
    assert(filesWith("ScrapeJob").filterNot(_.startsWith("jobs/")) == Nil)
  }
}
