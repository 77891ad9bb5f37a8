package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch directories of the test suites: fresh temp directories under
  * the working directory's `target/`. sbt runs the forked tests from the
  * root of the checkout, so a run writes into its own checkout only.
  */
object TestDirs {
  def tmp(prefix: String): Path = {
    val target = Paths.get("target").toAbsolutePath
    Files.createDirectories(target)
    Files.createTempDirectory(target, prefix)
  }
}
