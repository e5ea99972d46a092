package graftbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Reads the frozen workload definitions (`perfbench/workloads.json`) and
  * the recorded result checksums (`perfbench/expected.json`). */
object Defs {
  private val mapper = new ObjectMapper()

  def workload(root: Path, name: String): JsonNode = {
    val w = mapper.readTree(root.resolve("perfbench/workloads.json").toFile).get("workloads").get(name)
    require(w != null, s"workload '$name' is not defined in perfbench/workloads.json")
    w
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
  def doubles(n: JsonNode): Seq[Double] = n.elements().asScala.map(_.asDouble).toSeq

  /** Source/sink options as a string map. */
  def options(n: JsonNode): Map[String, String] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  def expected(root: Path): Map[String, String] = {
    val f = root.resolve("perfbench/expected.json").toFile
    if (!f.exists) Map.empty
    else mapper.readTree(f).get("checksums").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
  }
}
