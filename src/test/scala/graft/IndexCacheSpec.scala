package graft

import graft.queries.IndexCache

/** The build-once artifact cache's KEY discipline: the content fingerprint
  * watches the source DATA, the contract tag watches the build RECIPE.
  * A changed recipe (k-formula, merge count, train-side filter) must MISS
  * the cache — the round-13 hazard was q301 silently serving stale
  * assignments after a k-formula change, because only the data rode the
  * key. */
class IndexCacheSpec extends SparkSpec {
  import spark.implicits._

  test("tagFor: contract changes the tag; identical contracts agree; " +
      "the no-contract form is unchanged (back-compat with live caches)") {
    val d = "/root/testdata/sf0.001"
    assert(IndexCache.tagFor("p_", d) == "p_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    val a = IndexCache.tagFor("p_", d, "k=ceil(n/64)")
    val b = IndexCache.tagFor("p_", d, "k=ceil(n/128)")
    val a2 = IndexCache.tagFor("p_", d, "k=ceil(n/64)")
    assert(a == a2, "same contract must produce the same tag")
    assert(a != b, "a changed formula must change the tag")
    assert(a != IndexCache.tagFor("p_", d), "contract tag != bare tag")
    // multi-part contracts are order-sensitive by design (they describe a
    // recipe, not a set)
    assert(IndexCache.tagFor("p_", d, "x", "y") !=
      IndexCache.tagFor("p_", d, "y", "x"))
  }

  test("cachedDir: a changed build contract REBUILDS into a distinct dir; " +
      "an unchanged contract cache-hits (build lambda never runs)") {
    val base = java.nio.file.Files.createTempDirectory("idxcache").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "t")
      .write.parquet(s"$base/src.parquet")
    var builds = 0
    def run(contract: String): String =
      IndexCache.cachedDir(spark, s"$base/src.parquet",
        IndexCache.tagFor("graft_idxcache_spec_", base, contract)) { dir =>
        builds += 1
        assert(new java.io.File(s"$dir/meta").mkdirs())
      }
    val d1 = run("k=ceil(n/64)")
    assert(builds == 1)
    assert(new java.io.File(s"$d1/meta").isDirectory)
    val d1again = run("k=ceil(n/64)")
    assert(builds == 1, "unchanged contract must not rebuild")
    assert(d1again == d1)
    val d2 = run("k=ceil(n/128)")
    assert(builds == 2, "changed contract must rebuild, not serve stale")
    assert(d2 != d1, "changed contract must publish under a distinct dir")
    // and the original contract still resolves to its own artifact
    assert(run("k=ceil(n/64)") == d1 && builds == 2)
  }

  test("cachedDir: a build that THROWS leaves nothing under the tag, and " +
      "the next call rebuilds") {
    val base = java.nio.file.Files.createTempDirectory("idxcachefail").toString
    Seq((1L, "a")).toDF("id", "t").write.parquet(s"$base/src.parquet")
    val tag = IndexCache.tagFor("graft_idxcache_failspec_", base)
    def entries(): Seq[String] =
      new java.io.File(sys.props("java.io.tmpdir")).list().toSeq.filter(_.startsWith(tag))
    val boom = intercept[RuntimeException] {
      IndexCache.cachedDir(spark, s"$base/src.parquet", tag) { dir =>
        assert(new java.io.File(s"$dir/meta").mkdirs())
        throw new RuntimeException("simulated build crash")
      }
    }
    assert(boom.getMessage == "simulated build crash")
    assert(entries().isEmpty, s"failed build left entries behind: ${entries()}")
    var built = false
    val dir = IndexCache.cachedDir(spark, s"$base/src.parquet", tag) { dir =>
      built = true
      assert(new java.io.File(s"$dir/meta").mkdirs())
    }
    assert(built, "the failed attempt must not poison the cache slot")
    assert(new java.io.File(s"$dir/meta").isDirectory)
    assert(entries() == Seq(new java.io.File(dir).getName))
  }
}
