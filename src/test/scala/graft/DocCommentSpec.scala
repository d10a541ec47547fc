package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every doc comment in `src/main` documents the definition after it: a
  * doc comment whose end is followed directly by the start of another is
  * attached to nothing, since Scaladoc keeps only the comment nearest the
  * definition. */
class DocCommentSpec extends AnyFunSuite {
  test("no src/main doc comment is followed directly by another") {
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main",
      "scala")
    val sources = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    assert(sources.nonEmpty)
    val detached = "\\*/\\s*/\\*\\*".r
    val offenders = for {
      p <- sources
      t = new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      m <- detached.findAllMatchIn(t)
    } yield s"${root.relativize(p)}:${t.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
