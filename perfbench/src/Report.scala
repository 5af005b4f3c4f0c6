package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Raw per-pass, per-query figures as JSON; `run.py` aggregates them. */
object Report {
  private val mapper = new ObjectMapper()

  def write(path: String, setupS: Double, passes: Seq[PassRun],
      spark: SparkSession)(
      extra: ObjectNode => Unit): Unit = {
    val root = mapper.createObjectNode()
    root.put("setup_s", setupS)
    root.put("cores", spark.sparkContext.defaultParallelism)
    root.put("peak_rss_mb", Session.peakRssMb)
    val ps = root.putArray("passes")
    passes.foreach { p =>
      val pn = ps.addObject()
      pn.put("pass", p.pass)
      pn.put("wall_s", p.wallS)
      val qs = pn.putArray("queries")
      p.runs.foreach { r =>
        val q = qs.addObject()
        q.put("name", r.name)
        q.put("build_ms", r.buildMs)
        q.put("exec_ms", r.execMs)
        r.error.foreach(q.put("error", _))
        r.trace.foreach(t => q.set[ObjectNode]("trace", mapper.valueToTree[ObjectNode](traceMap(t))))
      }
    }
    extra(root)
    Files.writeString(Paths.get(path), mapper.writeValueAsString(root))
  }

  private def traceMap(t: QueryTrace): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    t.productElementNames.zip(t.productIterator).foreach { case (k, v) => m.put(k, v) }
    m
  }
}
