package graft.tools

import graft.SparkSpec

/** CLI-path coverage for [[RunVpl]]: the round-7 gap was that the
  * reference scenario corpus was exercised only through the compiler
  * API (VplCoverageSpec) while the CLI entry was smoke-run on a
  * single program. These specs drive RunVpl's own planning core
  * (same option map, same mode dispatch as main()) over every
  * .evt-paired reference scenario in both batch and streaming modes,
  * plus the option-parser edge cases from the round-7 advice.
  */
class RunVplSpec extends SparkSpec {

  private def sc = graft.ReferenceCorpus.path("tests/scenarios")
  private def read(p: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private lazy val pairs = new java.io.File(sc).listFiles
    .filter(_.getName.endsWith(".vpl")).sortBy(_.getName)
    .filter(f => new java.io.File(
      f.getPath.stripSuffix(".vpl") + ".evt").exists)

  test("CLI evt mode runs every stream of every .evt-paired scenario") {
    assert(pairs.length >= 10)
    val failures = scala.collection.mutable.Buffer.empty[String]
    var streams = 0
    for (f <- pairs) {
      val evt = f.getPath.stripSuffix(".vpl") + ".evt"
      val res = RunVpl.plan(spark, read(f.getPath), Map("evt" -> evt))
      for ((name, t) <- res) {
        streams += 1
        t match {
          case scala.util.Success(df) => df.count() // force execution
          case scala.util.Failure(e) =>
            failures += s"${f.getName}/$name: ${e.getMessage.take(100)}"
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(streams >= 20, s"expected >= 20 scenario streams, got $streams")
  }

  test("CLI streaming mode matches CLI batch mode per scenario stream") {
    // one stream per scenario keeps this CLI-dispatch check cheap —
    // exhaustive batch≡stream parity lives in VplCoverageSpec
    val failures = scala.collection.mutable.Buffer.empty[String]
    var checked = 0
    for (f <- pairs) {
      val evt = f.getPath.stripSuffix(".vpl") + ".evt"
      val text = read(f.getPath)
      val batchAll = RunVpl.plan(spark, text, Map("evt" -> evt))
      // `ts` columns carry mode-specific staging epochs (see
      // VplCoverageSpec) — compare everything else
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        val cols = df.columns.filterNot(_ == "ts")
        df.select(cols.head, cols.tail: _*)
          .collect().map(_.toString).sorted.toSeq
      }
      batchAll.collectFirst {
        case (name, scala.util.Success(df)) => (name, df)
      }.foreach { case (name, bdf) =>
        val b = rows(bdf)
        RunVpl.plan(spark, text,
          Map("evt" -> evt, "streaming" -> "1", "stream" -> name)) match {
          case Seq((_, scala.util.Success(sdf))) =>
            checked += 1
            val s = rows(sdf)
            if (b != s) failures +=
              s"${f.getName}/$name: batch=${b.size} stream=${s.size} (or value diff)"
          case Seq((_, scala.util.Failure(e))) =>
            failures += s"${f.getName}/$name streaming: ${e.getMessage.take(100)}"
          case other => failures += s"${f.getName}/$name: $other"
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    assert(checked >= 10, s"expected >= 10 scenarios checked, got $checked")
  }

  test("CLI table-dir mode compiles streams against the parquet tables") {
    // the simplest always-compiling program over the staged events
    val prog =
      """event Evt:
        |    user_id: int
        |    value: float
        |
        |stream S = Evt .where(value > 0.0) .emit(user_id: user_id)
        |""".stripMargin
    val res = RunVpl.plan(spark, prog, Map("table-dir" -> sf))
    assert(res.size == 1)
    assert(res.head._2.isSuccess, res.head._2.toString)
  }

  test("option parser: flag values may not be flags; trailing flag errors") {
    // '--stream --out DIR' must not consume '--out' as the value
    val e1 = intercept[IllegalArgumentException](
      RunVpl.parseOptsForTest(List("--stream", "--out", "/tmp/x")))
    assert(e1.getMessage.contains("missing value for --stream"))
    val e2 = intercept[IllegalArgumentException](
      RunVpl.parseOptsForTest(List("--out")))
    assert(e2.getMessage.contains("missing value for --out"))
    val e3 = intercept[IllegalArgumentException](
      RunVpl.parseOptsForTest(List("stray")))
    assert(e3.getMessage.contains("unrecognized argument"))
    // valid forms still parse
    assert(RunVpl.parseOptsForTest(
      List("--streaming", "--evt", "a.evt", "--stream", "S")) ==
      Map("streaming" -> "1", "evt" -> "a.evt", "stream" -> "S"))
  }
}
