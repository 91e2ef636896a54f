package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Reads the generator's workload file and writes the harness's results. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  /** Serialises maps, sequences, strings, numbers, booleans, options and
    * null; non-finite numbers become null. */
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = sb.append(mapper.writeValueAsString(s))
    def go(v: Any): Unit = v match {
      case null | None => sb.append("null")
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(x)
        }
        sb.append('}')
      case s: Iterable[_] =>
        sb.append('[')
        s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); go(x) }
        sb.append(']')
      case x => str(x.toString)
    }
    go(v)
    sb.toString
  }
}
