package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch directories of the fixture queries and the test suites: every
  * path resolves under one root per JVM, `target/tmp/run_*` beneath the
  * working directory, which is deleted when the JVM exits, so fixture
  * warehouses, staged sources and checkpoints do not pile up across
  * runs. */
object Fixtures {

  /** The directory the per-JVM roots live in. */
  def base: Path = Paths.get(sys.props("user.dir"), "target", "tmp")

  private lazy val root: Path = {
    Files.createDirectories(base)
    val r = Files.createTempDirectory(base, "run_")
    sys.addShutdownHook {
      val paths = Files.walk(r) // depth-first, symlinks not followed
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally paths.close()
    }
    r
  }

  /** `name` under this JVM's root: the same path on every call, so a
    * fixture staged under it is reused within the run. */
  def path(name: String): String = root.resolve(name).toString

  /** A fresh `<prefix>_<uuid>` path under this JVM's root. */
  def fresh(prefix: String): String =
    path(s"${prefix}_${java.util.UUID.randomUUID()}")
}
