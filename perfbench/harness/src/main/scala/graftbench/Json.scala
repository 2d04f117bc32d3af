package graftbench

/** Minimal JSON writer for the harness output (maps, sequences, arrays,
  * numbers, strings, booleans). Doubles print with every digit. */
object Json {
  def write(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append("null")
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      sb.append(java.lang.Double.toString(d))
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case a: Array[_] => write(a.toSeq, sb)
    case p: Product if !p.isInstanceOf[collection.Iterable[_]] =>
      write(p.productIterator.toSeq, sb)
    case s: collection.Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(x, sb)
      }
      sb.append(']')
    case other => throw new IllegalArgumentException(s"cannot write ${other.getClass}")
  }

  private def str(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  def toFile(v: Any, path: String): Unit = {
    val sb = new java.lang.StringBuilder
    write(v, sb)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
