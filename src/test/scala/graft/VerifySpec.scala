package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture-free checks of the Verify driver: its query registry and
  * its command line. Neither starts a SparkSession.
  */
class VerifySpec extends AnyFunSuite {

  test("registry names are distinct, so the queries map keeps every row") {
    val names = SparkEntry.allQueryDefs.map(_.name)
    val reused = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(reused.isEmpty, s"names registered more than once: $reused")
    assert(SparkEntry.queries.size == SparkEntry.allQueryDefs.size)
  }

  test("Verify prints a usage line and exits non-zero on a wrong argument count") {
    val java = s"${sys.props("java.home")}/bin/java"
    for (args <- Seq(Seq.empty[String], Seq("a"), Seq("a", "b", "c", "d"))) {
      val p = new ProcessBuilder((Seq(java, "-cp", sys.props("java.class.path"),
        "graft.Verify") ++ args): _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 2, out)
      assert(out.linesIterator.contains(
        "usage: graft.Verify <sfDir> <outDir> [namePrefix]"), out)
    }
  }
}
