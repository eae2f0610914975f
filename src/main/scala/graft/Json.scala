package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec for the engine's own records: bench records and the
  * oracle SQL dump. Jackson ships with Spark. Writers take
  * Scala maps and sequences; pass an insertion-ordered map (`VectorMap`) to
  * keep a record's field order. */
private[graft] object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)

  def pretty(v: Any): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(v)

  /** The file's top-level object; None when it is missing, unreadable or not
    * a JSON object. */
  def readObject(f: java.nio.file.Path): Option[JsonNode] =
    try Option(mapper.readTree(f.toFile)).filter(_.isObject)
    catch { case scala.util.control.NonFatal(_) => None }
}
