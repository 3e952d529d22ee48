package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON encoder of the mains' artifacts. Ordered Scala maps
  * (`ListMap`, `LinkedHashMap`) keep their insertion order, sequences
  * become arrays, and numbers print as Scala's `toString` does
  * (`12.345678901`, `1.0E-4`). */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(value: Any): String = mapper.writeValueAsString(value)
}
