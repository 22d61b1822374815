package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The harness's JSON output: Jackson, which writes numbers without regard
  * to the default locale (a de_DE default would otherwise turn `1.5` into
  * `1,5`). */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
