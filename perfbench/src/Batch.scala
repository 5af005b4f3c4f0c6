package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Batch workloads (`cep_events`, `corpus_prep`): one cold pass over the
  * query list inside set-up, then whole warm passes until the run's
  * seconds are spent. Every execution writes its output as parquet under
  * `--out`; the Python side checks each one against its DuckDB oracle.
  *
  * The cold pass runs on `--warm`, a small input of the same shape, so
  * that set-up pays class loading, code generation and JIT warm-up
  * without a full pass over `--data`.
  *
  * Args: --data DIR --warm DIR --out DIR --work DIR --queries a,b,c
  *       --seconds S --trace 0|1 --cores N --report FILE [--vpl DIR]
  */
object Batch {
  def main(args: Array[String]): Unit = {
    val o = Opts(args)
    val queries = o("queries").split(",").toSeq
    val spark = Session.start(o("cores").toInt, o("work"))
    val tracer = if (o("trace") == "1") Some(Tracer.install(spark)) else None
    val entries = SparkEntry.queries

    def runOne(name: String, data: String, dest: String): QueryRun = {
      tracer.foreach(_.begin())
      val t0 = System.nanoTime()
      val res = try {
        val df = entries(name)(spark, data)
        val t1 = System.nanoTime()
        df.write.parquet(dest)
        Right(t1)
      } catch { case e: Throwable => Left(e.toString) }
      val t2 = System.nanoTime()
      val trace = tracer.map(_.end())
      res match {
        case Right(t1) => QueryRun(name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, None, trace)
        case Left(err) => QueryRun(name, 0, (t2 - t0) / 1e6, Some(err), trace)
      }
    }

    val out = o("out")
    queries.foreach(q => runOne(q, o("warm"), s"$out/cold/$q"))
    val setupS = (System.currentTimeMillis() - Session.processStartMs) / 1e3
    val deadline = System.nanoTime() + (o("seconds").toDouble * 1e9).toLong
    val done = scala.collection.mutable.ArrayBuffer.empty[PassRun]
    while (done.isEmpty || System.nanoTime() < deadline) {
      val p = done.size + 1
      val t0 = System.nanoTime()
      val runs = queries.map(q => runOne(q, o("data"), s"$out/pass$p/$q"))
      done += PassRun(p, (System.nanoTime() - t0) / 1e9, runs)
    }
    val vpl = if (tracer.isDefined) o.m.get("vpl").map(vplTimes(spark, o("data"), _)) else None
    Report.write(o("report"), setupS, done.toSeq, spark) { root =>
      val orc = root.putObject("oracle")
      queries.foreach(q => SparkEntry.oracleSql.get(q).foreach(orc.put(q, _)))
      vpl.foreach { case (parseMs, compileMs) =>
        root.put("vpl_parse_ms", parseMs); root.put("vpl_compile_ms", compileMs)
      }
    }
    spark.stop()
  }
}

/** Median parse and compile time of the benchmark's own VPL programs:
  * `VplParser.parse` alone, then `Vpl.tableStream` (parse + compile to a
  * DataFrame, not executed) minus the parse. Each file `<Stream>.vpl`
  * holds one program whose stream `<Stream>` is compiled. */
object vplTimes {
  def apply(spark: SparkSession, data: String, dir: String): (Double, Double) = {
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".vpl")).sortBy(_.getName)
    val samples = (1 to 5).flatMap(_ => files.map { f =>
      val text = Files.readString(f.toPath)
      val stream = f.getName.stripSuffix(".vpl")
      val t0 = System.nanoTime()
      graft.vpl.VplParser.parse(text)
      val t1 = System.nanoTime()
      graft.vpl.Vpl.tableStream(spark, data, text, stream)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e6, ((t2 - t1) - (t1 - t0)) / 1e6)
    })
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    // per program: the medians are summed over the files
    (med(samples.map(_._1)) * files.size, med(samples.map(_._2)) * files.size)
  }
}

/** Minimal `--key value` argument map. */
final case class Opts(m: Map[String, String]) {
  def apply(k: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
}

object Opts {
  def apply(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
}

final case class QueryRun(name: String, buildMs: Double, execMs: Double,
    error: Option[String], trace: Option[QueryTrace]) {
  def wallMs: Double = buildMs + execMs
}

final case class PassRun(pass: Int, wallS: Double, runs: Seq[QueryRun])

object Session {
  /** JVM start, the origin of `setup_s`. */
  val processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def start(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
