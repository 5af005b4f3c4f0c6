package graft

import graft.vpl._

/** The reference's mandelbrot demo family, VERBATIM
  * (examples/mandelbrot/ — the repo's compute showpiece: 16-context
  * parallel tile computation with imperative while-loop fns and
  * .process emit generation). The distributed worker runs end to end:
  * each ComputeTileNN trigger fans out to 62,500 Pixel events whose
  * iteration counts this spec recomputes INDEPENDENTLY with the
  * classic escape-time loop (same double arithmetic, same update
  * order as the .vpl source), so every pixel is value-checked, not
  * just counted. The parse-time machinery these files exercised into
  * existence: `var` statements in fn bodies, top-level declaration
  * for-loops with `{v}` identifier substitution (expand.rs), and the
  * .process interpreted-emit path for statement bodies beyond
  * for/emit.
  */
class VplMandelbrotSpec extends SparkSpec {

  private def base = ReferenceCorpus.path("examples/mandelbrot")

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  /** Independent escape-time implementation, expression-for-expression
    * the worker .vpl's fn mandelbrot (FP order matters for exact
    * equality): r2/i2 precomputed, zi updated before zr.
    */
  private def mandel(cx: Double, cy: Double, maxIter: Int): Int = {
    var zr = 0.0; var zi = 0.0; var i = 0
    while (i < maxIter) {
      val r2 = zr * zr; val i2 = zi * zi
      if (r2 + i2 > 4.0) return i
      zi = 2.0 * zr * zi + cy
      zr = r2 - i2 + cx
      i += 1
    }
    maxIter
  }

  test("distributed worker_0 runs verbatim: 4 tiles x 62,500 exact pixels") {
    val vpl = read(s"$base/distributed/mandelbrot_worker_0.vpl")
    val evt = java.nio.file.Files.createTempFile("graft_mandel", ".evt")
    java.nio.file.Files.write(evt,
      (0 to 3).map(i => s"ComputeTile0$i { id: 1 }").mkString("\n").getBytes)
    val res = Vpl.runEvt(spark, vpl, Seq(evt.toString))
    val tiles = Seq(("Tile00", 0), ("Tile01", 250), ("Tile02", 500),
      ("Tile03", 750))
    for ((name, xOff) <- tiles) {
      val df = res(name).getOrElse(fail(s"$name failed: ${res(name)}"))
      val rows = df.select("x", "y", "iterations", "diverged").collect()
      assert(rows.length == 250 * 250, s"$name emitted ${rows.length}")
      var checked = 0
      var divergedN = 0
      rows.foreach { r =>
        val x = r.getLong(0); val y = r.getLong(1)
        val iters = r.getLong(2); val div = r.getBoolean(3)
        val cx = -2.0 + x * 3.0 / 1000.0
        val cy = -1.5 + y * 3.0 / 1000.0
        val want = mandel(cx, cy, 256)
        assert(iters == want, s"$name pixel ($x,$y): got $iters want $want")
        assert(div == (want < 256))
        if (div) divergedN += 1
        checked += 1
      }
      assert(checked == 62500)
      // tile00 row covers the far exterior: everything diverges there;
      // deeper tiles keep some bounded points — sanity that the set
      // is actually being computed, not a constant
      if (name == "Tile00") assert(divergedN == 62500, s"$name diverged $divergedN")
    }
    // the pixel grid tiles the x range without overlap
    val allX = tiles.flatMap { case (n, _) =>
      res(n).get.select("x").collect().map(_.getLong(0)) }.toSet
    assert(allX == (0L until 1000L).toSet)
  }

  test("the parallel variant's declaration loops expand: 16 contexts, 16 streams") {
    val vpl = read(s"$base/web/mandelbrot_parallel.vpl")
    val prog = VplParser.parse(vpl)
    // for row in 0..4 / for col in 0..4 -> contexts t00..t33 and the
    // per-tile streams, all materialized at parse time
    assert(prog.streams.count(_.name.startsWith("Tile")) == 16,
      prog.streams.map(_.name))
  }

  test("the parallel variant's string-row tiles run: 250 PixelRow strings, exact") {
    // compute_tile here ACCUMULATES a comma-separated string per row
    // (var + := over strings inside nested loops) — the interpreted
    // .process path's string arm, value-checked against the same
    // independent escape-time loop
    val vpl = read(s"$base/web/mandelbrot_parallel.vpl")
    val evt = java.nio.file.Files.createTempFile("graft_mandel_web", ".evt")
    java.nio.file.Files.write(evt, "ComputeTile00 { id: 1 }\n".getBytes)
    val df = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Tile00")
      .getOrElse(fail("Tile00 failed to compile"))
    val rows = df.select("y", "x_start", "count", "data").collect()
    assert(rows.length == 250)
    rows.foreach { r =>
      val y = r.getLong(0)
      assert(r.getLong(1) == 0L && r.getLong(2) == 250L)
      val want = (0 until 250).map { px =>
        mandel(-2.0 + px * 3.0 / 1000.0, -1.5 + y * 3.0 / 1000.0, 256)
      }.mkString(",")
      assert(r.getString(3) == want, s"row $y data mismatch")
    }
  }

  test("the single-file demo's 16 tile streams all compile (interpreted .process emits)") {
    // compile-only: materializing all 16 x 62,500-pixel tiles belongs
    // to a cluster, not a unit suite; worker_0 above value-checks the
    // numeric path end to end
    val vpl = read(s"$base/mandelbrot.vpl")
    val prog = VplParser.parse(vpl)
    assert(prog.streams.size >= 16, prog.streams.map(_.name))
  }
}
