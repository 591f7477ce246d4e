package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The guard that keeps the admission gates on one skeleton
  * (graft.streaming.AdmissionGate): no gate under src/main/scala/graft/streaming
  * wires its own foreachBatch or writes its own kept epoch dir.
  * GeotagPipeline and StreamingJobs are streaming jobs, not gates.
  */
class AdmissionGateSpec extends AnyFunSuite {

  private val NotGates = Set("GeotagPipeline.scala", "StreamingJobs.scala")

  /** The gate sources holding `needle`, by file name, once per
    * occurrence. */
  private def holders(needle: String): List[String] = {
    val dir = Paths.get("src/main/scala/graft/streaming")
    for {
      f <- PublishSpec.mainSources.filter(_.getParent.endsWith(dir))
      name = f.getFileName.toString if !NotGates(name)
      _ <- Files.readString(f).split(java.util.regex.Pattern.quote(needle), -1).tail
    } yield name
  }

  test("only AdmissionGate wires a gate's foreachBatch") {
    assert(holders(".foreachBatch") == List("AdmissionGate.scala"))
  }

  test("only AdmissionGate writes a gate's kept epoch dir") {
    assert(holders("$keptPath/epoch=") == List("AdmissionGate.scala"))
  }
}
