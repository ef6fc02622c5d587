package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer for the harness outputs and the pipeline state
  * files. Jackson escapes every control character and writes doubles
  * with `Double.toString`, so a tab in oracle SQL or a comma-decimal
  * default locale cannot produce malformed JSON. Scala maps are written
  * in their iteration order: pass a `ListMap` where a reader sees the
  * key order. */
object Json {
  val mapper: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(s: String): JsonNode = mapper.readTree(s)
}
