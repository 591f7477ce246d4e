package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** The committed correctness values beside the benchmark
  * (`perfbench/expected/`): query fingerprints per table scale, and
  * curation per-gate drop counts per (seed, docs fed, corpus docs). They
  * are plain data; a run that disagrees prints the values it observed. */
object Expected {
  private val mapper = new ObjectMapper()

  private def read(p: Path): Map[String, Map[String, String]] =
    if (!Files.exists(p)) Map.empty
    else mapper.readValue(p.toFile, classOf[java.util.Map[String, java.util.Map[String, Object]]])
      .asScala.map { case (k, v) => k -> v.asScala.map { case (a, b) => a -> b.toString }.toMap }.toMap

  def fingerprints(ctx: Ctx, scale: String): Map[String, String] =
    read(ctx.expected.resolve("query-suite.json")).getOrElse(scale, Map.empty)

  def curation(ctx: Ctx): Map[String, Map[String, Long]] =
    read(ctx.expected.resolve("curation-stream.json"))
      .map { case (k, v) => k -> v.map { case (g, n) => g -> n.toLong } }
}
