package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.io.Commit]] is the one module under src/main that knows the
  * on-disk commit policy (the [[SessionFactorySpec]] source-scan idea). */
class CommitLintSpec extends AnyFunSuite {

  /** The files under src/main/scala/graft, relative to it, that contain `needle`. */
  private def filesWith(needle: String): List[String] =
    SourceScan.filesWhere("src/main/scala/graft")(_.contains(needle))

  test("only io/Commit.scala renames") {
    assert(filesWith(".rename(") == List("io/Commit.scala"))
  }

  test("only io/Commit.scala names the _SUCCESS marker") {
    assert(filesWith("_SUCCESS") == List("io/Commit.scala"))
  }

  test("no job writes in place") {
    for (needle <- Seq(".write.overwrite()", "mode(\"overwrite\")"))
      assert(filesWith(needle).filter(_.startsWith("jobs/")) == Nil, needle)
  }

  test("the commit siblings are named only in io/Commit.scala") {
    for (suffix <- Seq("__tmp", "__old", "__append", "__setaside"))
      assert(filesWith(suffix) == List("io/Commit.scala"), suffix)
  }

  test("no file outside jobs/ mentions ScrapeJob") {
    assert(filesWith("ScrapeJob").filterNot(_.startsWith("jobs/")) == Nil)
  }
}
