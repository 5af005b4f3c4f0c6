package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.vpl._

/** The seven reference apama-comparison scenario programs
  * (benchmarks/apama-comparison/scenarios/01-07/varpulis.vpl) run
  * VERBATIM over the reference's own replay path: events generated
  * exactly as scenarios/run_scenarios.py generate_events writes them
  * (write_varpulis_evt → .evt), then Vpl.runEvt.
  *
  * Documented results (results/scenario_benchmark_*.json, varpulis
  * rows at 100,000 events) are pinned where the documented number is
  * a property of the query semantics:
  *   - 01_filter  output_count 89000  (price 40+(i%100) > 50 ⟺ i%100 ≥ 11)
  *   - 02_aggregation output_count 1000 (one VWAP per FULL 100-count window)
  *   - 07_sequence output_count 50000 (one match per A/B id pair)
  * These three run at the full documented 100K count.
  *
  * The remaining four run at reduced counts with expectations
  * recomputed independently in the test (the VplKafkaBenchSpec
  * precedent — the op pipelines are line-identical to the kafka
  * benchmark programs, whose semantics those tests pin). Their
  * documented varpulis output_counts are NOT pinned, deliberately:
  * 03/05/06 record 0 — an artifact of the reference's immediate-mode
  * replay (its windowed join buffers expire against the virtual
  * clock before correlation; semantically the generators DO produce
  * qualifying pairs, and our oracled join semantics emits them) —
  * and 04 records one ZDD-compressed match per closing event,
  * whereas the oracled maximal-run realization (p7_kleene) emits one
  * row per (anchor, close) pair, which is quadratic in a strictly
  * rising price series and therefore asserted at a reduced count.
  */
class VplApamaBenchSpec extends SparkSpec {

  private def scenDir =
    ReferenceCorpus.path("benchmarks/apama-comparison/scenarios")

  private def readVpl(s: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$scenDir/$s/varpulis.vpl")), UTF_8)

  private def runEvt(scenario: String, evtLines: Seq[String])
      : Map[String, scala.util.Try[org.apache.spark.sql.DataFrame]] = {
    val evt = java.nio.file.Files.createTempFile(s"graft_ap_$scenario", ".evt")
    java.nio.file.Files.write(evt,
      evtLines.mkString("", "\n", "\n").getBytes(UTF_8))
    Vpl.runEvt(spark, readVpl(scenario), Seq(evt.toString))
  }

  private def approx(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("01_filter at 100K: documented output_count 89000") {
    val n = 100000
    def price(i: Int): Double = 40.0 + (i % 100)
    val lines = (0 until n).map { i =>
      val sym = Seq("AAPL", "GOOG", "MSFT")(i % 3)
      s"""StockTick { symbol: "$sym", price: ${price(i)}, volume: ${1000 + (i % 5000)} }"""
    }
    val out = runEvt("01_filter", lines)("Filtered").get
    assert(out.count() == 89000L, "documented varpulis output_count")
    val stats = out.agg(
      org.apache.spark.sql.functions.min("price"),
      org.apache.spark.sql.functions.max("price"),
      org.apache.spark.sql.functions.countDistinct("symbol")).collect().head
    assert(stats.getDouble(0) == 51.0 && stats.getDouble(1) == 139.0 &&
      stats.getLong(2) == 3L)
  }

  test("02_aggregation at 100K: documented output_count 1000, exact VWAPs") {
    val n = 100000
    def price(i: Int): Double = 100.0 + (i % 50) * 0.1
    def volume(i: Int): Double = 100.0 + (i % 900)
    val lines = (0 until n).map(i =>
      s"""Trade { symbol: "ACME", price: ${price(i)}, volume: ${volume(i)} }""")
    val out = runEvt("02_aggregation", lines)("VWAP").get
    val got = out.select("vwap", "total_volume", "trade_count")
      .collect().map(r => (r.getDouble(0), r.getDouble(1),
        r.getAs[Number](2).longValue))
    assert(got.length == 1000, s"documented 1000 full windows, got ${got.length}")
    val expected = (0 until 1000).map { w =>
      val is = (w * 100) until ((w + 1) * 100)
      val pv = is.map(i => price(i) * volume(i)).sum
      val vol = is.map(volume).sum
      (pv / vol, vol)
    }
    // window identity isn't part of the output row — compare sorted
    val gs = got.sortBy(r => (r._1, r._2))
    val es = expected.sortBy(identity)
    gs.zip(es).foreach { case ((gv, gvol, gc), (ev, evol)) =>
      assert(approx(gv, ev) && approx(gvol, evol) && gc == 100L,
        s"window ($gv, $gvol, $gc) vs ($ev, $evol)")
    }
  }

  test("07_sequence at 100K: documented output_count 50000") {
    val n = 100000
    val lines = (0 until n / 2).flatMap(i =>
      Seq(s"A { id: $i }", s"B { id: $i }"))
    val out = runEvt("07_sequence", lines)("Matches").get
    assert(out.count() == 50000L, "documented varpulis output_count")
    val sample = out.filter(org.apache.spark.sql.functions
      .col("a_id") < 5).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sample == (0 until 5).map(i => (i.toLong, i.toLong)).toSet)
  }

  test("03_temporal: fraud join recomputed at n=4500") {
    val n = 4500
    case class L(user: String, ip: String, ord: Int)
    case class T(user: String, amount: Double, ip: String, ord: Int)
    val logins = (0 until n).filter(_ % 3 == 0).map(i =>
      L(s"user_${i % 100}", s"192.168.1.${i % 255}", i))
    val txs = (0 until n).filterNot(_ % 3 == 0).map(i =>
      T(s"user_${(i - 1) % 100}", 1000.0 + (i % 10000),
        s"192.168.1.${(i + 50) % 255}", i))
    val lByOrd = logins.map(l => l.ord -> l).toMap
    val tByOrd = txs.map(t => t.ord -> t).toMap
    val lines = (0 until n).map { i =>
      if (i % 3 == 0) {
        val l = lByOrd(i)
        s"""Login { user_id: "${l.user}", ip: "${l.ip}", device: "mobile" }"""
      } else {
        val t = tByOrd(i)
        s"""Transaction { user_id: "${t.user}", amount: ${t.amount}, ip: "${t.ip}", merchant: "Store" }"""
      }
    }
    val out = runEvt("03_temporal", lines)("FraudDetection").get
    val got = out.select("user_id", "login_ip", "tx_ip", "amount")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getDouble(3))).sorted
    // independent expectation: every (tx, login) pair of the same
    // user with amount > 5000 and differing IPs (the buffered-login
    // join; all events sit inside one 5s window under replay)
    val byUser = logins.groupBy(_.user)
    val expected = (for {
      t <- txs if t.amount > 5000.0
      l <- byUser.getOrElse(t.user, Nil)
      if t.ip != l.ip
    } yield (t.user, l.ip, t.ip, t.amount)).sorted
    assert(got.length == expected.length,
      s"${got.length} alerts vs ${expected.length}")
    assert(got.toSeq == expected, "alert rows differ")
  }

  test("04_kleene: rising sequences recomputed at n=40") {
    val n = 40
    def sym(i: Int) = Seq("AAPL", "GOOG")(i % 2)
    def price(i: Int): Double = 100.0 + (i / 10) * 10 + (i % 10)
    val lines = (0 until n).map(i =>
      s"""StockTick { symbol: "${sym(i)}", price: ${price(i)}, volume: 1000 }""")
    val out = runEvt("04_kleene", lines)("PriceSpikes").get
    val got = out.select("symbol", "start_price", "end_price", "spike_count")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getAs[Number](3).longValue)).sorted
    // independent expectation under the oracled maximal-run
    // realization (p7_kleene): per symbol the price series is
    // strictly increasing, so every (anchor i, close j) pair with at
    // least one tick between them matches, the run being everything
    // strictly between
    val expected = (for {
      s <- Seq("AAPL", "GOOG")
      ticks = (0 until n).filter(i => sym(i) == s).map(price)
      i <- ticks.indices; j <- (i + 2) until ticks.size
    } yield (s, ticks(i), ticks(j), (j - i - 1).toLong)).sorted
    assert(got.length == expected.length,
      s"${got.length} spikes vs ${expected.length}")
    assert(got.toSeq == expected, "spike rows differ")
  }

  test("05_ema_crossover: signals recomputed at n=300") {
    val n = 300
    def price(i: Int): Double = 100.0 + math.sin(i / 100.0) * 10 + (i % 5) * 0.1
    val lines = (0 until n).map(i =>
      s"""StockTick { symbol: "AAPL", price: ${price(i)}, volume: 1000 }""")
    val out = runEvt("05_ema_crossover", lines)("Crossover").get
    def ema(vals: Seq[Double], p: Int): Double = {
      val a = 2.0 / (p + 1)
      vals.reduceLeft((acc, v) => a * v + (1 - a) * acc)
    }
    val fast = (0 until n / 12).map(w => ema((w * 12 until (w + 1) * 12).map(price), 12))
    val slow = (0 until n / 26).map(w => ema((w * 26 until (w + 1) * 26).map(price), 26))
    val expected = (for {
      f <- fast; s <- slow
      if math.abs(f - s) > 0.5
    } yield (f, s, if (f > s) "buy" else "sell")).toSet
    val got = out.select("fast_ema", "slow_ema", "signal", "strength")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getString(2),
        r.getDouble(3)))
    assert(expected.nonEmpty && got.length == expected.size,
      s"${got.length} signals vs ${expected.size}")
    got.foreach { case (f, s, sig, st) =>
      assert(expected.exists { case (ef, es, esig) =>
        approx(f, ef) && approx(s, es) && sig == esig
      }, s"unexpected signal ($f, $s, $sig)")
      assert(approx(st, math.abs(f - s)))
    }
  }

  test("06_multi_sensor: correlated anomalies recomputed at n=2000") {
    val n = 2000
    case class R(zone: String, value: Double)
    val temps = (0 until n).filter(_ % 2 == 0).map(i =>
      R(s"zone_${i % 5}", 20.0 + (i % 30) + (if (i % 50 == 0) 5.0 else 0.0)))
    val pressures = (0 until n).filter(_ % 2 == 1).map(i =>
      R(s"zone_${i % 5}", 1000.0 + (i % 100) + (if (i % 50 == 1) 20.0 else 0.0)))
    val lines = (0 until n).map { i =>
      if (i % 2 == 0) {
        val r = temps(i / 2)
        s"""TemperatureReading { sensor_id: "temp_${i % 10}", location: "${r.zone}", value: ${r.value} }"""
      } else {
        val r = pressures(i / 2)
        s"""PressureReading { sensor_id: "press_${i % 10}", location: "${r.zone}", value: ${r.value} }"""
      }
    }
    val out = runEvt("06_multi_sensor", lines)("CorrelatedAnomalies").get
    def stats(rs: Seq[R], minStd: Double): Map[String, Seq[(Double, Double)]] =
      rs.groupBy(_.zone).view.mapValues { zrs =>
        zrs.grouped(100).filter(_.size == 100).map { w =>
          val vals = w.map(_.value)
          val avg = vals.sum / vals.size
          val varS = vals.map(v => (v - avg) * (v - avg)).sum / (vals.size - 1)
          (avg, math.sqrt(varS))
        }.filter(_._2 > minStd).toSeq
      }.toMap
    val ts = stats(temps, 5.0)
    val ps = stats(pressures, 10.0)
    val expected = for {
      zone <- (ts.keySet ++ ps.keySet).toSeq
      (ta, tstd) <- ts.getOrElse(zone, Nil)
      (pa, pstd) <- ps.getOrElse(zone, Nil)
      score = (tstd / 10.0) * (pstd / 20.0)
      if score > 0.5
    } yield (zone, ta, tstd, pa, pstd, score)
    val got = out.select("location", "temp_avg", "temp_std",
      "pressure_avg", "pressure_std", "correlation_score")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(expected.nonEmpty && got.length == expected.size,
      s"${got.length} anomalies vs ${expected.size}")
    got.foreach { case (z, ta, tstd, pa, pstd, sc) =>
      assert(expected.exists { case (ez, eta, etstd, epa, epstd, esc) =>
        z == ez && approx(ta, eta) && approx(tstd, etstd) &&
          approx(pa, epa) && approx(pstd, epstd) && approx(sc, esc)
      }, s"unexpected anomaly ($z, $ta, $tstd, $pa, $pstd, $sc)")
    }
  }
}
