package perfbench

import com.fasterxml.jackson.databind.ObjectMapper

/** Plain Java collections, so Jackson's core mapper writes them as is. */
object Json {
  private val mapper = new ObjectMapper()

  def obj(kvs: (String, Any)*): java.util.Map[String, AnyRef] = {
    val m = new java.util.LinkedHashMap[String, AnyRef]()
    kvs.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  def arr(xs: Iterable[Any]): java.util.List[AnyRef] = {
    val l = new java.util.ArrayList[AnyRef]()
    xs.foreach(x => l.add(x.asInstanceOf[AnyRef]))
    l
  }

  def write(path: String, value: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)
}
