package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.Assertions.assume

/** The MIINT reference checkout whose committed fixtures pin golden
  * behaviour (FIXTURES.md, "Reference-anchored specs"). Specs route
  * every reference path through [[path]] before they read it: where
  * the file is absent the test is canceled with a message naming it,
  * and where it exists the test runs unchanged.
  */
object ReferenceFixtures {
  private val root: Path = Paths.get(Reference.Root)

  /** `root/rel`; cancels the calling test when it does not exist. */
  def path(rel: String): Path = {
    val p = root.resolve(rel)
    assume(Files.exists(p), s"reference fixture $p is absent")
    p
  }
}
