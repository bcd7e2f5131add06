package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The gate scratch root (GateTmp) is shared by every JVM on the box: a
  * JVM's exit hook must delete only the dirs that JVM made.
  */
class GateTmpSpec extends AnyFunSuite {
  test("the exit hook deletes this JVM's gate dirs, not a sibling it did not make") {
    val own = Paths.get(GateTmp.freshDir("gatetmp_spec_own"))
    Files.writeString(own.resolve("f"), "x")
    // another JVM's gate table under the same root
    val sibling = Files.createDirectories(GateTmp.root.resolve("gatetmp_spec_sibling"))
    Files.writeString(sibling.resolve("f"), "y")
    try {
      // the hook wipes `made`: this JVM's dir is in it, the sibling is not
      assert(GateTmp.made.contains(own))
      assert(!GateTmp.made.contains(sibling))
      // the hook's body over this test's own dir only, so no other suite's
      // dirs in this JVM are touched
      GateTmp.wipeMade(java.util.List.of(own))
      assert(!Files.exists(own), s"$own must be gone")
      assert(Files.exists(sibling.resolve("f")), s"$sibling must survive")
    } finally GateTmp.wipe(sibling.toString)
  }
}
