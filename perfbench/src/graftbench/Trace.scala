package graftbench

import scala.collection.mutable

/** In-memory spans for the traced run: name, start, end, parent and run
  * id. Written out once, when the run ends.
  */
final class Tracer(val runId: String) {

  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, var endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.getOrElse(-1),
      System.nanoTime(), -1L)
    spans += s
    open = s.id :: open
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
    }
  }

  /** Seconds per span name: each span's duration minus the part of its
    * interval that its children cover, summed over spans of that name.
    */
  def selfSeconds: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          (sum + math.max(0L, b - from), math.max(reach, b))
        }._1
      (s.endNs - s.startNs - covered) / 1e9
    }(_ + _)
  }

  def names: Set[String] = spans.map(_.name).toSet

  /** Summed duration of the spans named `name`, children included. */
  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON writing for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    d.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}
