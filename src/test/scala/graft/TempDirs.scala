package graft

import java.nio.file.{Files, Path}
import org.scalatest.{BeforeAndAfterAll, Suite}

/** A suite's temporary directories (topics, stores, references,
  * checkpoints), all under one per-suite root that `afterAll` deletes,
  * so a test run leaves nothing behind in the JVM temp dir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private var root: Option[Path] = None

  /** A fresh directory named after `prefix` under the suite's root. */
  def tmp(prefix: String): String = synchronized {
    val r = root.getOrElse {
      val r0 = Files.createTempDirectory(s"graft-${getClass.getSimpleName}")
      root = Some(r0)
      r0
    }
    Files.createTempDirectory(r, prefix).toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      root.foreach { r =>
        val paths = Files.walk(r)
        try {
          import scala.jdk.CollectionConverters._
          paths.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        } finally paths.close()
      }
      root = None
    }
}
