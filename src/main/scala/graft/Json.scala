package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON mapper of the mains. Scala maps and sequences serialize
  * in their iteration order, so a `ListMap` fixes the field order.
  */
private[graft] object Json {
  val mapper: JsonMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
}
