package graft.queries

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** [[LayoutQueries.memo]], the one derived-artifact memo: it must rebuild
  * when its SOURCE dir's content changes — a bare existence marker
  * served stale artifacts to a long-lived process whose corpus dir was
  * re-ingested, and to a durable layoutRoot that met a recycled pid. */
class BuildOnceSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    tempDir(prefix).toString

  test("builds once while the source is unchanged; rebuilds on source change") {
    val src = tmpDir("bo-src")
    Files.write(Paths.get(src, "a.txt"), "one".getBytes)
    var builds = 0
    def build(): String = LayoutQueries.memo(spark, src, "bo") { _ => builds += 1 }
    val out = build()
    assert(build() === out) // one directory per (source, name)
    assert(builds === 1) // marker + matching fingerprint => no rebuild
    // change the source CONTENT (length changes => fingerprint changes)
    Files.write(Paths.get(src, "a.txt"), "twotwo".getBytes)
    build()
    assert(builds === 2)
    build()
    assert(builds === 2) // stable again at the new fingerprint
    // adding a file also flips the fingerprint
    Files.write(Paths.get(src, "b.txt"), "x".getBytes)
    build()
    assert(builds === 3)
  }

  test("a rebuild starts from a CLEAN root: stale files and secondary markers die") {
    val src = tmpDir("bo-src2")
    Files.write(Paths.get(src, "a.txt"), "one".getBytes)
    def build(file: String): String =
      LayoutQueries.memo(spark, src, "bo-clean") { out =>
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(out, file), file.getBytes)
      }
    val outRoot = build("data-v1")
    // a writer that breaks the read-only rule plants a file of its own
    Files.write(Paths.get(outRoot, "_FOREIGN"), Array.empty[Byte])
    Files.write(Paths.get(src, "a.txt"), "changed!".getBytes)
    build("data-v2")
    val names = new java.io.File(outRoot).listFiles().map(_.getName).toSet
    assert(names.contains("data-v2"))
    assert(!names.contains("data-v1"),
           "stale artifact file survived the fingerprint rebuild")
    assert(!names.contains("_FOREIGN"),
           "foreign file survived the fingerprint rebuild")
  }

  test("a legacy EMPTY marker reads as mismatch: upgrade rebuilds once") {
    val src = tmpDir("bo-src3")
    Files.write(Paths.get(src, "a.txt"), "one".getBytes)
    val outRoot = LayoutQueries.derivedDir(spark, src, "bo-legacy")
    Files.createDirectories(Paths.get(outRoot))
    Files.write(Paths.get(outRoot, "_GRAFT_BUILT"),
                Array.empty[Byte]) // an unfingerprinted marker
    var builds = 0
    LayoutQueries.memo(spark, src, "bo-legacy") { _ => builds += 1 }
    assert(builds === 1)
    LayoutQueries.memo(spark, src, "bo-legacy") { _ => builds += 1 }
    assert(builds === 1)
  }
}
