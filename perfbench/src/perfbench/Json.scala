package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON through Jackson, which ships among Spark's jars: requests and
  * reports are written from Scala values, responses read as trees. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read(s: String): JsonNode = mapper.readTree(s)
}
