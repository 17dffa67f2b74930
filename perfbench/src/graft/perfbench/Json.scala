package graft.perfbench

/** Minimal JSON writer for the record file that run.py reads. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => graft.HarnessUtil.jsonQ(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.HarnessUtil.jsonQ(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => graft.HarnessUtil.jsonQ(o.toString)
  }
}
