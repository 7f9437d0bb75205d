package perfbench

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** JSON for the runner's raw output and the generator's plant file,
  * through the json4s that ships with Spark. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def write(v: Map[String, Any]): String = Serialization.write(v)

  def readFile(path: String): Map[String, Any] =
    JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")).values.asInstanceOf[Map[String, Any]]
}
