package perfbench

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** JSON output through the json4s/jackson already on Spark's classpath. */
object Json {
  private implicit val formats: DefaultFormats.type = DefaultFormats
  def write(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])
}
