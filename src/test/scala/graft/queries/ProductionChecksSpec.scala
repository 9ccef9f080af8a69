package graft.queries

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-free check of the check rows' artifact cache. */
class ProductionChecksSpec extends AnyFunSuite {

  test("cachedDir rebuilds a stale artifact on first use and reuses it after") {
    val sfDir = Files.createTempDirectory("graft_cached_dir_sf").toString
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val out = Path.of(sys.props("java.io.tmpdir"), s"graft_check_spec$tag.parquet")
    // a complete artifact an earlier build (possibly older code) left
    Files.createDirectories(out)
    Files.writeString(out.resolve("built"), "stale")
    Files.writeString(out.resolve("_SUCCESS"), "")
    var builds = 0
    def build(dir: String): Unit = {
      builds += 1
      Files.writeString(Path.of(dir, "built"), s"build $builds")
      Files.writeString(Path.of(dir, "_SUCCESS"), "")
    }
    try {
      assert(ProductionChecks.cachedDir(sfDir, "spec")(build) == out.toString)
      assert(builds == 1 && Files.readString(out.resolve("built")) == "build 1")
      assert(ProductionChecks.cachedDir(sfDir, "spec")(build) == out.toString)
      assert(builds == 1, "second use in the same JVM must reuse the artifact")
    } finally {
      Files.list(out).forEach(p => Files.delete(p))
      Files.delete(out)
      Files.delete(Path.of(sfDir))
    }
  }
}
