package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** One record as a JSON object, its fields in the given order. */
object Json {
  private val mapper = new ObjectMapper()

  def apply(fields: Seq[(String, Any)]): String = {
    val obj = new java.util.LinkedHashMap[String, Any]()
    fields.foreach { case (k, v) => obj.put(k, v) }
    mapper.writeValueAsString(obj)
  }
}
