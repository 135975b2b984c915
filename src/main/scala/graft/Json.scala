package graft

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The dev tools' one JSON writer (`Bench`, `Verify`, the scale
  * harnesses): Scala maps, sequences and scalars to one compact line.
  * Pass a `ListMap` where key order matters.
  */
private[graft] object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def apply(value: Any): String = mapper.writeValueAsString(value)
}
