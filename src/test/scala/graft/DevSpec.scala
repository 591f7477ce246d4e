package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The developer main's dispatch, checked without a SparkSession: an
  * unknown subcommand must fail before one is built (a typo used to run
  * the flagship and exit 0), and every `runMain graft.Dev <word>` the
  * documented procedures quote must name a subcommand that still exists.
  */
class DevSpec extends AnyFunSuite {

  test("an unknown subcommand throws, listing the valid ones") {
    val e = intercept[IllegalArgumentException](Dev.main(Array("no-such-cmd")))
    assert(e.getMessage.contains("no-such-cmd"))
    assert(Dev.subcommands.contains("verifysf1"))
    Dev.subcommands.foreach(name => assert(e.getMessage.contains(name), name))
  }

  test("every `runMain graft.Dev <word>` in the procedures names a subcommand") {
    val quoted = for {
      doc <- Seq("README.md", ".claude/skills/verify/SKILL.md")
      m <- """runMain graft\.Dev[ \t]+([A-Za-z0-9_]+)""".r
        .findAllMatchIn(Files.readString(Paths.get(doc)))
    } yield doc -> m.group(1)
    assert(quoted.map(_._2).toSet.contains("verifysf1"))
    val unknown = quoted.filterNot { case (_, word) => Dev.subcommands.contains(word) }
    assert(unknown.isEmpty, s"documented but not dispatched: $unknown")
  }
}
