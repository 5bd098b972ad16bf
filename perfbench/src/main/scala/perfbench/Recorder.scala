package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.{LinkedHashMap => JMap}

import com.fasterxml.jackson.databind.ObjectMapper

/** Append-only JSON-lines sink for raw measurements. The JVM side only
  * records; every derived number (unions, self times, medians) is
  * computed from these lines by `perfbench/metrics.py`.
  *
  * Times are epoch microseconds on one clock: wall time sampled once
  * at start, advanced by `System.nanoTime`, so spans are monotonic and
  * still comparable with the epoch-millisecond stamps that Spark's
  * listener events carry.
  */
final class Recorder(path: String) {
  private val mapper = new ObjectMapper()
  private val out = new BufferedWriter(new FileWriter(path))
  private val wall0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs(): Long = wall0Us + (System.nanoTime() - nano0) / 1000L

  def rec(kind: String, fields: (String, Any)*): Unit = {
    val m = new JMap[String, Any]()
    m.put("kind", kind)
    fields.foreach { case (k, v) => m.put(k, toJava(v)) }
    val line = mapper.writeValueAsString(m)
    synchronized { out.write(line); out.write('\n') }
  }

  private def toJava(v: Any): Any = v match {
    case s: Seq[_] =>
      val l = new java.util.ArrayList[Any](); s.foreach(x => l.add(toJava(x))); l
    case m: Map[_, _] =>
      val j = new JMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }; j
    case x => x
  }

  def close(): Unit = synchronized { out.close() }
}

/** Nested timing spans. A span is recorded when it closes, with its
  * parent id, so the tree can be rebuilt offline.
  */
final class Spans(r: Recorder) {
  @volatile var enabled = false
  private var nextId = 0L
  private var stack = List.empty[Long]

  def apply[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    if (!enabled) return body
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = r.nowUs()
    try body
    finally {
      stack = stack.tail
      r.rec("span", (Seq("id" -> id, "parent" -> parent, "name" -> name,
        "start" -> t0, "end" -> r.nowUs()) ++ attrs): _*)
    }
  }
}
