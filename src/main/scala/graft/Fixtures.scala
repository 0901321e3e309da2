package graft

import java.nio.file.{Files, Path, Paths}

/** The committed test fixtures (`src/test/resources`), resolved against
  * the working directory. Every launcher runs from the checkout root:
  * sbt's forked run and test, `tools/run_graft.sh` and the benchmark, so
  * a checkout anywhere reads its own fixtures. */
object Fixtures {
  val root: Path = Paths.get("src/test/resources").toAbsolutePath.normalize

  /** Absolute path of the fixture `name`; fails when the working
    * directory is not a checkout root. */
  def path(name: String): String = {
    if (!Files.isDirectory(root))
      throw new IllegalStateException(
        s"fixture root $root is missing: run from the checkout root")
    root.resolve(name).toString
  }
}
