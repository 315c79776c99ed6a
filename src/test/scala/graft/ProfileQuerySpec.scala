package graft

class ProfileQuerySpec extends org.scalatest.funsuite.AnyFunSuite {
  test("ProfileQuery's job time is the union of job intervals") {
    // overlapping, nested and touching jobs count once: 15 + 10, not their sum 32
    assert(tools.ProfileQuery.covered(
      Seq((5L, 15L), (0L, 10L), (2L, 4L), (20L, 25L), (25L, 30L))) == 25L)
  }
}
