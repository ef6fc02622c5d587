package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** JSON through the Jackson that Spark already ships: ordered Java maps
  * out, trees in. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kv: (String, AnyRef)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def arr(xs: Seq[AnyRef]): java.util.List[AnyRef] = {
    val l = new java.util.ArrayList[AnyRef]()
    xs.foreach(l.add)
    l
  }

  def write(v: AnyRef): String = mapper.writeValueAsString(v)

  def writeFile(path: String, v: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}
