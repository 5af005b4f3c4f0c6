package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.sources.EventReplay

/** `graft.tools.Serve` with the benchmark's listeners attached: the
  * session is created first, the [[Tracer]] registered on it, then
  * Serve's own main runs and picks the session up through getOrCreate.
  * A side port answers the live client:
  *
  *  - `POST /begin`, `POST /end`: layer counters between the two calls;
  *  - `POST /stage` (body: `.evt` text, header `x-phase`): time
  *    `EventReplay.stagePhase` on a private spool with that phase;
  *  - `POST /parse` (body: VPL text): time `VplParser.parse`.
  *
  * Args: --trace-port N, then Serve's own arguments.
  */
object ServeTraced {
  def main(args: Array[String]): Unit = {
    val tracePort = args(1).toInt
    val serveArgs = args.drop(2)
    val master = serveArgs.sliding(2).collectFirst { case Array("--master", m) => m }
      .getOrElse("local[4]")
    val b = SparkSession.builder().master(master).appName("graft-server")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    val tracer = Tracer.install(spark)
    val mapper = new ObjectMapper()
    val spool = java.nio.file.Files.createTempDirectory("perfbench_stage_").toString
    var staged = EventReplay.stageEmpty(spark, spool)

    val side = HttpServer.create(new InetSocketAddress("127.0.0.1", tracePort), 0)
    side.createContext("/", (x: HttpExchange) => {
      val body = new String(x.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val reply = mapper.createObjectNode()
      x.getRequestURI.getPath match {
        case "/begin" => tracer.begin()
        case "/end" =>
          val t = tracer.end()
          t.productElementNames.zip(t.productIterator).foreach {
            case (k, v: Int) => reply.put(k, v)
            case (k, v: Long) => reply.put(k, v)
            case (k, v: Double) => reply.put(k, v)
            case _ => ()
          }
        case "/stage" =>
          val phase = x.getRequestHeaders.getFirst("x-phase").toInt
          val evt = java.nio.file.Files.createTempFile("perfbench_phase_", ".evt")
          java.nio.file.Files.writeString(evt, body)
          val s0 = System.nanoTime()
          staged = EventReplay.stagePhase(spark, evt.toString, staged,
            phase = phase, afterDelayMs = phase * 1000L, sentinel = false)
          reply.put("ms", (System.nanoTime() - s0) / 1e6)
          java.nio.file.Files.deleteIfExists(evt)
        case "/parse" =>
          val s0 = System.nanoTime()
          graft.vpl.VplParser.parse(body)
          reply.put("ms", (System.nanoTime() - s0) / 1e6)
        case _ => ()
      }
      val bytes = mapper.writeValueAsBytes(reply)
      x.sendResponseHeaders(200, bytes.length.toLong)
      x.getResponseBody.write(bytes)
      x.close()
    })
    side.start()
    graft.tools.Serve.main(serveArgs)
  }
}
