package graftbench

import org.json4s.{DefaultFormats, Extraction, Formats, JDouble, JNull}
import org.json4s.jackson.JsonMethods

/** JSON of the harness's result, trace and golden files, through the
  * json4s that ships with Spark. Non-finite numbers are written as null. */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def apply(v: Any): String = JsonMethods.compact(Extraction.decompose(v).transform {
    case JDouble(d) if d.isNaN || d.isInfinite => JNull
  })

  def read[T: Manifest](text: String): T = JsonMethods.parse(text).extract[T]
}
