package benchkit

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON text of Scala maps, sequences and options (Jackson, as bundled
  * with Spark). Non-finite doubles are written as the strings "NaN" and
  * "Infinity"; run.py reads them as missing values.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
