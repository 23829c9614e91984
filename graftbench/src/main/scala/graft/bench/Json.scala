package graft.bench

/** Minimal JSON rendering for the harness's outputs: maps (insertion
  * order kept), sequences, strings, numbers, booleans, None/null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => graft.Verify.jsonEscape(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  /** Insertion-ordered object, so records read in a fixed order. */
  def obj(kvs: (String, Any)*): collection.mutable.LinkedHashMap[String, Any] =
    collection.mutable.LinkedHashMap(kvs: _*)

  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, render(v) + "\n"): Unit
  }
}
