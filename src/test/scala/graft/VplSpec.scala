package graft

import graft.vpl._
import org.apache.spark.sql.DataFrame

import scala.util.Success

/** End-to-end VPL front-end tests: parse the REFERENCE'S OWN example
  * and scenario files (reference: examples/sase_patterns.vpl and the
  * tests/scenarios VPL suite) and run them over their .evt inputs,
  * asserting the outcomes the scenario comments document.
  */
class VplSpec extends SparkSpec {

  private def ex = ReferenceCorpus.path("examples")
  private def sc = ReferenceCorpus.path("tests/scenarios")

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  private def runFile(vpl: String, evt: String*): Map[String, DataFrame] =
    Vpl.runEvt(spark, readFile(vpl), evt).map {
      case (k, Success(df)) => k -> df
      case (k, scala.util.Failure(e)) => fail(s"stream $k failed to compile: $e")
    }

  // ---------------------------------------------------------------- parsing
  test("all target reference files parse") {
    val files = Seq(
      s"$ex/sase_patterns.vpl", s"$ex/reusable_patterns.vpl",
      s"$sc/cxo_fraud_detection.vpl", s"$sc/checkpoint_count_window.vpl",
      s"$sc/checkpoint_session_window.vpl", s"$sc/watermark_basic.vpl",
      s"$sc/watermark_windowed.vpl", s"$sc/order_payment.vpl",
      s"$sc/electrical_consumption.vpl")
    files.foreach { f =>
      val prog = VplParser.parse(readFile(f))
      assert(prog.streams.nonEmpty || prog.patterns.nonEmpty, s"$f parsed empty")
    }
  }

  test("parser: expressions, durations, lambdas, named args") {
    val p = VplParser.parse(
      """event E:
        |    x: float
        |    name: str
        |stream S = E
        |    .where(x * 2.0 > 10.0 and (name == "a" or name == "b"))
        |    .window(5m, sliding: 1m)
        |    .aggregate(n: count(), s: sum(x))
        |    .emit(n: n, s: s)
        |""".stripMargin)
    assert(p.events.head.fields == Seq("x" -> "float", "name" -> "str"))
    assert(p.streams.head.ops.size == 4)
  }

  // ---------------------------------------------------------------- sase_patterns
  lazy val sase: Map[String, DataFrame] =
    runFile(s"$ex/sase_patterns.vpl", s"$sc/sase_patterns.evt")

  test("sase_patterns: all 10 streams compile") {
    assert(sase.size == 14) // 4 base streams + 10 pattern streams
  }

  test("sase_patterns: login then large transaction (1 match: user1)") {
    assert(sase("LoginThenLargeTransaction").count() == 1)
  }

  test("sase_patterns: full session (user2 + user3)") {
    val rows = sase("FullSession").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Double]("tx_amount")).toSet == Set(500.0, 9999.0))
  }

  test("sase_patterns: 4-step fraud chain (user3)") {
    val rows = sase("FraudChain").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("amount") == 9999.0)
  }

  test("sase_patterns: velocity pattern lambda (user5, 7 tx in 10m)") {
    assert(sase("VelocityAlert").count() == 1)
  }

  test("sase_patterns: impossible travel (user4 US->CN)") {
    val rows = sase("ImpossibleTravel").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("country1") == "US")
    assert(rows.head.getAs[String]("country2") == "CN")
  }

  test("sase_patterns: high spending 24h (user6: 55k)") {
    assert(sase("HighSpending").count() == 1)
  }

  test("sase_patterns: same-IP money mule (mule1 -> mule2 -> tx)") {
    assert(sase("SameIPMultipleUsers").count() == 1)
  }

  test("sase_patterns: risky transaction filter (3 large + 1 gambling)") {
    assert(sase("RiskyTransaction").count() == 4)
  }

  test("sase_patterns: high-frequency trader (none over 20)") {
    assert(sase("HighFrequencyTrader").count() == 0)
  }

  test("sase_patterns: match-all transactions after login") {
    assert(sase("AllTransactionsAfterLogin").count() == 4)
  }

  // ---------------------------------------------------------------- cxo fraud
  lazy val cxo: Map[String, DataFrame] =
    runFile(s"$sc/cxo_fraud_detection.vpl", s"$sc/cxo_fraud_detection.evt")

  test("cxo_fraud: account takeover (attacker1 only, with .not + .within)") {
    val rows = cxo("AccountTakeover").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("user_id") == "attacker1")
    assert(rows.head.getAs[Double]("purchase_amount") == 4999.0)
  }

  test("cxo_fraud: card testing kleene (stolen_card_42)") {
    val rows = cxo("CardTesting").collect()
    // batch all-matches enumerates small-purchase pairs; the reference
    // NFA collects one alert — same card, same detection
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[String]("card_id")).toSet == Set("stolen_card_42"))
    assert(rows.map(_.getAs[Double]("large_amount")).toSet == Set(2500.0))
  }

  test("cxo_fraud: impossible travel (traveler1 US->NG in 45min)") {
    val rows = cxo("ImpossibleTravel").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("user_id") == "traveler1")
    assert(rows.head.getAs[String]("location2") == "NG")
  }

  // ---------------------------------------------------------------- checkpoint scenarios
  test("checkpoint_count_window: phase1+phase2 -> one full window of 5") {
    val out = runFile(s"$sc/checkpoint_count_window.vpl",
      s"$sc/checkpoint_count_window_phase1.evt",
      s"$sc/checkpoint_count_window_phase2.evt")
    val rows = out("WindowedSum").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Double]("sum") == 150.0)
    assert(rows.head.getAs[Long]("n") == 5L)
  }

  test("checkpoint_session_window: 5s gap -> two sessions") {
    val out = runFile(s"$sc/checkpoint_session_window.vpl",
      s"$sc/checkpoint_session_window_phase1.evt",
      s"$sc/checkpoint_session_window_phase2.evt")
    val rows = out("SessionAgg").collect()
    assert(rows.length == 2)
    val byN = rows.map(r => r.getAs[Long]("n") -> r.getAs[Double]("sum")).toMap
    assert(byN == Map(3L -> 300.0, 1L -> 999.0))
  }

  test("watermark_windowed: 5s tumbling counts") {
    val out = runFile(s"$sc/watermark_windowed.vpl", s"$sc/watermark_windowed.evt")
    val rows = out("Windowed").collect()
    assert(rows.map(_.getAs[Long]("event_count")).sorted.toSeq == Seq(1L, 3L))
  }

  // ---------------------------------------------------------------- fns + scalar streams
  lazy val elec: Map[String, DataFrame] =
    runFile(s"$sc/electrical_consumption.vpl", s"$sc/electrical_consumption.evt")

  test("electrical: fn-inlined abnormal filter (5 alerts)") {
    val rows = elec("AbnormalFloorConsumption").collect()
    assert(rows.length == 5)
    // fn percent_over_baseline inlined into the plan
    val first = rows.minBy(_.getAs[String]("floor_id"))
    assert(rows.forall(r =>
      r.getAs[Double]("consumption") > r.getAs[Double]("baseline") * 1.5))
    assert(first.getAs[Double]("percent_over") > 0.0)
  }

  test("electrical: building/site aggregates") {
    assert(elec("BuildingConsumption").count() == 3) // B1, B2, C1
    assert(elec("SiteConsumption").count() == 2)     // SITE-A, SITE-B
    val anomaly = elec("BuildingAnomaly").collect()
    assert(anomaly.length == 1)
    assert(anomaly.head.getAs[String]("building_id") == "B2")
  }

  test("electrical: consumption spike sequence with cross-step arithmetic") {
    val rows = elec("ConsumptionSpike").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r =>
      r.getAs[Double]("spike") > r.getAs[Double]("previous") * 2.0))
  }

  // ---------------------------------------------------------------- pattern decls
  test("reusable_patterns: declared SASE patterns compile and run") {
    val prog = VplParser.parse(readFile(s"$ex/reusable_patterns.vpl"))
    assert(prog.patterns.size == 8)
    val decls = prog.events.map(e => e.name -> e).toMap
    val c = new VplCompiler(prog,
      new EvtSource(spark, Seq(s"$sc/sase_patterns.evt"), decls))
    // SEQ(Login, Logout) within 24h partition by user_id → user2, user3
    assert(c.compilePattern("LoginLogout").count() == 2)
    // Transaction where amount > 1000 → 15000, 9999, 20000, 35000, 5000
    assert(c.compilePattern("HighValueTx").count() == 5)
    // Login OR Logout → 7 logins + 2 logouts
    assert(c.compilePattern("AuthEvent").count() == 9)
    // cross-step predicate on a field these events don't carry → NULL → no match
    assert(c.compilePattern("MultiLocationAccess").count() == 0)
    // SEQ(Login, NOT Logout, Transaction): user1/user2/user3/mule2 have
    // Login→Tx with no Logout BETWEEN them (user2/user3 log out after
    // the tx — position-aware negation must not count those)
    assert(c.compilePattern("LoginWithoutLogout").count() == 4)
    // Login(device=="unknown") → Transaction+ → NOT Logout: the Login
    // events carry no device field → NULL predicate → no matches
    assert(c.compilePattern("FraudSequence").count() == 0)
  }

  test("declared pattern: Kleene+ step and trailing NOT over a hand-built scenario") {
    val vpl =
      """event Ping:
        |    k: int
        |    v: float
        |event Pong:
        |    k: int
        |event Stop:
        |    k: int
        |pattern Burst = SEQ(Ping as a, Pong+ where k == 1 as b, Stop as c) within 1h partition by k
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_kleene_pat", ".evt")
    java.nio.file.Files.writeString(evt,
      """Ping { k: 1, v: 1.0 }
        |BATCH 1000
        |Pong { k: 1 }
        |BATCH 2000
        |Pong { k: 1 }
        |BATCH 3000
        |Stop { k: 1 }
        |BATCH 4000
        |Ping { k: 2, v: 2.0 }
        |BATCH 5000
        |Stop { k: 2 }
        |""".stripMargin)
    val prog = VplParser.parse(vpl)
    val decls = prog.events.map(e => e.name -> e).toMap
    val c = new VplCompiler(prog,
      new EvtSource(spark, Seq(evt.toString), decls))
    // k=1: Ping -> {Pong@1s, Pong@2s} -> Stop = 2 enumerated matches
    // (skip-till-any, one row per Kleene binding); k=2 has no Pong
    assert(c.compilePattern("Burst").count() == 2)
  }

  // ------------------------------------------- remaining CxO scenarios
  test("cxo_cyber_threat: each attack chain fires for exactly its entity") {
    val out = runFile(s"$sc/cxo_cyber_threat.vpl", s"$sc/cxo_cyber_threat.evt")
    val brute = out("BruteForceLateral").collect()
    assert(brute.nonEmpty)
    assert(brute.map(_.getAs[String]("target_host")).toSet == Set("web-server-01"))
    assert(brute.map(_.getAs[String]("lateral_target")).toSet == Set("file-server-02"))
    val dns = out("DnsExfiltration").collect()
    assert(dns.nonEmpty)
    assert(dns.map(_.getAs[String]("source_host")).toSet == Set("workstation-15"))
    val priv = out("PrivilegeEscalation").collect()
    assert(priv.nonEmpty)
    assert(priv.map(_.getAs[String]("alert_type")).toSet == Set("privilege_escalation"))
  }

  test("cxo_patient_safety: interaction, deterioration and dosage alerts target the right patients") {
    val out = runFile(s"$sc/cxo_patient_safety.vpl", s"$sc/cxo_patient_safety.evt")
    val drug = out("DrugInteraction").collect()
    assert(drug.length == 1) // P-101 warfarin+aspirin; healthy P-404 silent
    assert(drug.head.getAs[String]("patient_id") == "P-101")
    assert(drug.head.getAs[String]("drug1") == "warfarin")
    assert(drug.head.getAs[String]("drug2") == "aspirin")
    val vital = out("VitalDeterioration").collect()
    assert(vital.length == 1) // P-202's 90→135 bpm; P-404's 72→74 is not >1.2x
    assert(vital.head.getAs[String]("patient_id") == "P-202")
    val dose = out("DosageAnomaly").collect()
    assert(dose.length == 1)
    assert(dose.head.getAs[String]("patient_id") == "P-303")
    assert(dose.head.getAs[String]("drug_name") == "acetaminophen")
  }

  test("cxo_predictive_maintenance: degradation alerts name the degrading assets only") {
    val out = runFile(s"$sc/cxo_predictive_maintenance.vpl",
      s"$sc/cxo_predictive_maintenance.evt")
    val bearing = out("BearingDegradation").collect()
    assert(bearing.nonEmpty)
    assert(bearing.map(_.getAs[String]("machine_id")).toSet == Set("CNC-01"))
    val heat = out("OverheatingCascade").collect()
    assert(heat.nonEmpty)
    assert(heat.map(_.getAs[String]("alert_type")).toSet == Set("overheating"))
  }

  test("cxo_insider_trading: pre-news trade and position building flag the right traders") {
    val out = runFile(s"$sc/cxo_insider_trading.vpl", s"$sc/cxo_insider_trading.evt")
    val pre = out("TradeBeforeNews").collect()
    assert(pre.length == 1)
    assert(pre.head.getAs[String]("trader_id") == "trader_sus")
    assert(pre.head.getAs[String]("symbol") == "ACME")
    val pos = out("AbnormalPositionBuilding").collect()
    assert(pos.nonEmpty) // Kleene accumulates 1+ alerts
    assert(pos.map(_.getAs[String]("trader_id")).toSet.contains("accumulator"))
  }

  test("three_step_sequence: only complete in-order A->B->C chains match") {
    val vpl =
      """stream Chain = A as a
        |    -> B where id == a.id as b
        |    -> C where id == a.id as c
        |    .within(10m)
        |    .emit(id: a.id)
        |""".stripMargin
    val res = Vpl.runEvt(spark, vpl,
      Seq(s"$sc/three_step_sequence.evt"))("Chain").get
    val ids = res.collect().map(_.getAs[Long]("id")).sorted.toSeq
    // id 1 and 4 complete; id 2 lacks C; id 3's C precedes B
    assert(ids == Seq(1L, 4L), s"got $ids")
  }

  test("order_payment: fn calls in emit + sequence (3 matched orders)") {
    val out = runFile(s"$sc/order_payment.vpl", s"$sc/order_payment_sequence.evt")
    val m = out("OrderPaymentMatch").collect()
    assert(m.length == 3)
    assert(m.map(_.getAs[Long]("order_id")).toSet == Set(1L, 2L, 3L))
    // fee = calculate_fee(amount) = amount * 0.02, inlined
    val byOrder = m.map(r => r.getAs[Long]("order_id") -> r.getAs[Double]("fee")).toMap
    assert(math.abs(byOrder(1L) - 300.0) < 1e-9)
    // Order events carry no `amount` field -> dynamic NULL -> no rows
    assert(out("PriorityOrders").count() == 0)
  }

  test(".score() runs scoring.rs-shaped programs (stand-in + registered model)") {
    // the reference grammar's score_op shape (varpulis.pest:214)
    val vpl =
      """event Tx:
        |    amount: float
        |    risk: float
        |
        |stream Scored = Tx
        |    .score(model: "fraud.onnx", inputs: [amount, risk],
        |           outputs: [fraud_prob, category])
        |    .emit(id: event_id, p: fraud_prob, c: category)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_score", ".evt")
    java.nio.file.Files.writeString(evt,
      """Tx { amount: 100.0, risk: 0.5 }
        |""".stripMargin)
    // unbound model name → deterministic stand-in:
    // z0 = 0 + 100/1 + 0.5/2 = 100.25; z1 = 1 + 100.25 = 101.25
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Scored").get.head()
    def squash(z: Double) = 0.5 + 0.5 * z / (1.0 + math.abs(z))
    assert(math.abs(r.getAs[Double]("p") - squash(100.25)) < 1e-12)
    assert(math.abs(r.getAs[Double]("c") - squash(101.25)) < 1e-12)
    // a registered Model scores with its real implementation
    // (LinearModel writes only fraud_prob — restrict the emit to it)
    val vpl2 = vpl.replace(", c: category", "")
    val prog2 = VplParser.parse(vpl2)
    val decls = prog2.events.map(e => e.name -> e).toMap
    val c3 = new VplCompiler(prog2,
      new EvtSource(spark, Seq(evt.toString), decls),
      models = Map("fraud.onnx" ->
        graft.ml.Score.LinearModel("fraud", Map("amount" -> 0.01),
          bias = -0.8, outputCol = "fraud_prob")))
    val z = -0.8 + 100.0 * 0.01
    val want = 0.5 + 0.5 * z / (1.0 + math.abs(z))
    assert(math.abs(c3.stream("Scored").head()
      .getAs[Double]("p") - want) < 1e-12)
  }

  test(".first() is .limit(1), the reference's shorthand (engine/mod.rs)") {
    val vpl =
      """event Ping:
        |    k: int
        |    v: float
        |
        |stream Top = Ping
        |    .order_by(v desc)
        |    .first()
        |    .emit(k: k, v: v)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_first", ".evt")
    java.nio.file.Files.writeString(evt,
      """Ping { k: 1, v: 1.0 }
        |Ping { k: 2, v: 9.0 }
        |Ping { k: 3, v: 4.0 }
        |""".stripMargin)
    val rows = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Top").get.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("k") == 2L)
  }

  test("scalar builtin vocabulary compiles through the VPL front-end") {
    // every documented scalar builtin (builtins.md: String / Math /
    // Timestamp / Utility) usable from a .vpl expression
    val vpl =
      """event E:
        |    name: str
        |    x: float
        |
        |stream Out = E
        |    .emit(
        |        t: trim(name), u: upper(name), n: len(name),
        |        has: contains(name, "el"), sw: starts_with(name, " h"),
        |        ew: ends_with(name, "o "), parts: len(split(trim(name), "l")),
        |        joined: join(split(trim(name), "l"), "-"),
        |        rep: replace(name, "hello", "bye"),
        |        rx: regex_match(name, "h.*o"),
        |        p: pow(x, 2.0), lg: round(log(exp(x)), 6),
        |        y: year(ts), mo: month(ts), d: day(ts),
        |        h: hour(ts), mi: minute(ts), s: second(ts),
        |        dur: duration_between(ts, ts),
        |        r2: round(x, 2), u2: len(uuid()), rnd: random() >= 0.0)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_builtins", ".evt")
    java.nio.file.Files.writeString(evt,
      """E { name: " hello ", x: 2.5 }
        |""".stripMargin)
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get.head()
    assert(r.getAs[String]("t") == "hello")
    assert(r.getAs[String]("u") == " HELLO ")
    assert(r.getAs[Int]("n") == 7)
    assert(r.getAs[Boolean]("has"))
    assert(r.getAs[Boolean]("sw"))
    assert(r.getAs[Boolean]("ew"))
    assert(r.getAs[Int]("parts") == 3)     // "he", "", "o"
    assert(r.getAs[String]("joined") == "he--o")
    assert(r.getAs[String]("rep") == " bye ")
    assert(r.getAs[Boolean]("rx"))
    assert(r.getAs[Double]("p") == 6.25)
    assert(r.getAs[Double]("lg") == 2.5)
    assert(r.getAs[Long]("dur") == 0L)
    assert(r.getAs[Double]("r2") == 2.5)
    assert(r.getAs[Int]("u2") == 36)
    assert(r.getAs[Boolean]("rnd"))
  }

  test("expression operator surface: ??, bitwise, not in, ranges, index, slice") {
    // docs/language/operators.md: null-coalesce, bitwise &|^~<<>>,
    // collection in / not in (list, range, string, array expr),
    // 0-based index incl. negative, python-style slices
    val vpl =
      """event E:
        |    name: str
        |    b: int
        |
        |stream Out = E
        |    .emit(
        |        co: missing_field ?? "dflt",
        |        band: b & 12, bor: b | 1, bxor: b ^ 5,
        |        bnot: ~b, shl: b << 2, shr: b >> 1,
        |        ni: b not in [3, 4], yi: b in [10, 11],
        |        inr: b in 0..10, inr2: b in 0..=10, ninr: b not in 0..=9,
        |        rng: 5..8, rngi: 5..=8, rnge: len(5..2),
        |        ins: "b" in split(trim(name), ";"),
        |        sub: "lo" in "hello world",
        |        idx: split(trim(name), ";")[1],
        |        neg: split(trim(name), ";")[-1],
        |        sl: trim(name)[0:3], sr: trim(name)[2:],
        |        so: trim(name)[:1], arr_sl: split(trim(name), ";")[1:3])
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_ops", ".evt")
    java.nio.file.Files.writeString(evt,
      """E { name: " a;b;c ", b: 10 }
        |""".stripMargin)
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get.head()
    assert(r.getAs[String]("co") == "dflt")
    assert(r.getAs[Long]("band") == 8L)   // 1010 & 1100
    assert(r.getAs[Long]("bor") == 11L)
    assert(r.getAs[Long]("bxor") == 15L)  // 1010 ^ 0101
    assert(r.getAs[Long]("bnot") == -11L)
    assert(r.getAs[Long]("shl") == 40L)
    assert(r.getAs[Long]("shr") == 5L)
    assert(r.getAs[Boolean]("ni"))
    assert(r.getAs[Boolean]("yi"))
    assert(!r.getAs[Boolean]("inr"))      // 10 in 0..10 (exclusive) = false
    assert(r.getAs[Boolean]("inr2"))      // 10 in 0..=10 = true
    assert(r.getAs[Boolean]("ninr"))      // 10 not in 0..=9 = true
    assert(r.getAs[scala.collection.Seq[Long]]("rng").toList == List(5L, 6L, 7L))
    assert(r.getAs[scala.collection.Seq[Long]]("rngi").toList == List(5L, 6L, 7L, 8L))
    assert(r.getAs[Int]("rnge") == 0)     // empty range, not a countdown
    assert(r.getAs[Boolean]("ins"))
    assert(r.getAs[Boolean]("sub"))
    assert(r.getAs[String]("idx") == "b")
    assert(r.getAs[String]("neg") == "c")
    assert(r.getAs[String]("sl") == "a;b")
    assert(r.getAs[String]("sr") == "b;c")
    assert(r.getAs[String]("so") == "a")
    assert(r.getAs[scala.collection.Seq[String]]("arr_sl").toList == List("b", "c"))
  }

  test("struct member access on expressions, including ?.") {
    val vpl =
      """event E:
        |    x: int
        |
        |stream Out = E
        |    .emit(nested: {a: x, b: {c: x * 2}}.b.c,
        |          opt: {a: x}?.a,
        |          direct: {a: 7}.a)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_struct", ".evt")
    java.nio.file.Files.writeString(evt, "E { x: 3 }\n")
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get.head()
    assert(r.getAs[Long]("nested") == 6L)
    assert(r.getAs[Long]("opt") == 3L)
    assert(r.getAs[Long]("direct") == 7L)
  }

  test("match expressions and type aliases (grammar.md match_expr / type_alias)") {
    val vpl =
      """type Level = int
        |type Name = str
        |
        |event E:
        |    lvl: Level
        |    who: Name
        |
        |stream Out = E
        |    .emit(label: match lvl:
        |              0 => "zero"
        |              1 => "one"
        |              _ => "many",
        |          bound: match lvl:
        |              0 => "none"
        |              k => "got " + str(k * 10),
        |          who: who)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_match", ".evt")
    java.nio.file.Files.writeString(evt,
      "E { lvl: 0, who: \"a\" }\nE { lvl: 1, who: \"b\" }\nE { lvl: 7, who: \"c\" }\n")
    val rows = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get
      .select("label", "bound", "who").collect().toList.map(r =>
        (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSet == Set(
      ("zero", "none", "a"), ("one", "got 10", "b"), ("many", "got 70", "c")))
  }

  test("evaluator list/type function surface (filter/map/sliding_pairs/type_of)") {
    val vpl =
      """event E:
        |    x: int
        |
        |stream Out = E
        |    .emit(lst: [x, x * 2, 5],
        |          evens: filter([x, x * 2, 5], v => v % 2 == 0),
        |          dbl: map([1, 2, 3], v => v * 10),
        |          diffs: map(sliding_pairs([x, x * 2, x * 3]), (a, b) => b - a),
        |          s: sum([1.0, 2.5]),
        |          mx: max([3, 9, 4]),
        |          ty: type_of(x),
        |          isn: is_null(missing_field),
        |          tos: to_string(x) + "!")
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_hof", ".evt")
    java.nio.file.Files.writeString(evt, "E { x: 2 }\n")
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get.head()
    def longs(name: String) =
      r.getAs[scala.collection.Seq[Long]](name).toList
    assert(longs("lst") == List(2L, 4L, 5L))
    assert(longs("evens") == List(2L, 4L))
    assert(longs("dbl") == List(10L, 20L, 30L))
    assert(longs("diffs") == List(2L, 2L))
    assert(r.getAs[Double]("s") == 3.5)
    assert(r.getAs[Long]("mx") == 9L)
    assert(r.getAs[String]("ty") == "int")
    assert(r.getAs[Boolean]("isn"))
    assert(r.getAs[String]("tos") == "2!")
  }

  test("nested lambdas reusing a parameter name keep the outer binding") {
    // regression: withBound used to REMOVE the inner lambda's binding
    // on exit instead of restoring the shadowed outer one, so an outer
    // reference compiled after the inner lambda fell through to the
    // event-field path (NULL) — a silent wrong result
    val vpl =
      """event E:
        |    x: int
        |
        |stream Out = E
        |    .emit(nested: map([1, 2, 3],
        |              v => sum(filter([10.0, 20.0], v => v > 15.0)) + v))
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_shadow", ".evt")
    java.nio.file.Files.writeString(evt, "E { x: 0 }\n")
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Out").get.head()
    assert(r.getAs[scala.collection.Seq[Double]]("nested").toList ==
      List(21.0, 22.0, 23.0))
  }

  test("timer source with initial_delay past the span yields zero ticks") {
    // regression: sequence() threw an illegal-boundaries runtime error
    // when t0 + initial_delay exceeded t1 instead of producing no ticks
    val vpl =
      """event E:
        |    x: float
        |
        |stream Ticks = timer(5s, initial_delay: 60s)
        |    .emit(kind: "tick", at: timestamp)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_timer0", ".evt")
    java.nio.file.Files.writeString(evt,
      """@0s E { x: 1.0 }
        |@21s E { x: 2.0 }
        |""".stripMargin)
    assert(Vpl.runEvt(spark, vpl, Seq(evt.toString))("Ticks").get.count() == 0)
  }

  test("timer source ticks over the staged span; var reassignment folds in order") {
    // benchmarks/apama-comparison 10_timer_source.vpl + 11_variables.vpl
    val vpl =
      """event E:
        |    x: float
        |
        |let base: float = 100.0
        |var thr: float = base * 2.0
        |thr := thr + 50.0
        |
        |stream Ticks = timer(5s, initial_delay: 5s)
        |    .emit(kind: "tick", at: timestamp, t: thr)
        |""".stripMargin
    val evt = java.nio.file.Files.createTempFile("graft_timer", ".evt")
    java.nio.file.Files.writeString(evt,
      """@0s E { x: 1.0 }
        |@21s E { x: 2.0 }
        |""".stripMargin)
    val rows = Vpl.runEvt(spark, vpl, Seq(evt.toString))("Ticks").get
      .collect().sortBy(_.getAs[java.sql.Timestamp]("at").getTime)
    // span [0s, 21s], delay 5s, period 5s -> ticks at 5,10,15,20
    assert(rows.length == 4)
    assert(rows.map(_.getAs[java.sql.Timestamp]("at").getTime).toList ==
      List(5000L, 10000L, 15000L, 20000L))
    assert(rows.forall(_.getAs[String]("kind") == "tick"))
    // thr = (100*2) + 50 — the := saw the PREVIOUS binding
    assert(rows.forall(_.getAs[Double]("t") == 250.0))
  }

  test("poly index/slice/in: map arms and reference edge semantics") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions.{PolyIn, PolyIndex, PolySlice}
    def c2(mk: (org.apache.spark.sql.catalyst.expressions.Expression,
                org.apache.spark.sql.catalyst.expressions.Expression) =>
               org.apache.spark.sql.catalyst.expressions.Expression)(
        a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      ColumnBridge.column(mk(ColumnBridge.expression(a), ColumnBridge.expression(b)))
    val m = map(lit("k"), lit(7L), lit("j"), lit(9L))
    val arr = array(lit(1L), lit(2L), lit(3L))
    val row = spark.range(1).select(
      c2(PolyIndex(_, _))(m, lit("k")).as("mk"),
      c2(PolyIndex(_, _))(m, lit("zz")).as("mz"),
      c2(PolyIndex(_, _))(arr, lit(5)).as("oob"),
      c2(PolyIn(_, _))(lit("j"), m).as("keyin"),
      c2(PolyIn(_, _))(lit("x"), m).as("keyout"),
      c2(PolyIn(_, _))(lit(9L), arr).as("arrout"),
      ColumnBridge.column(PolySlice(
        ColumnBridge.expression(arr),
        ColumnBridge.expression(lit(-1L)),
        ColumnBridge.expression(lit(2L)))).as("negstart"),
      ColumnBridge.column(PolySlice(
        ColumnBridge.expression(lit("abc")),
        ColumnBridge.expression(lit(1L)),
        ColumnBridge.expression(lit(99L)))).as("clamp")).head()
    assert(row.getAs[Long]("mk") == 7L)
    assert(row.isNullAt(row.fieldIndex("mz")))
    assert(row.isNullAt(row.fieldIndex("oob")))
    assert(row.getAs[Boolean]("keyin"))
    assert(!row.getAs[Boolean]("keyout"))
    assert(!row.getAs[Boolean]("arrout"))
    // negative slice start = reference's `as usize` → empty
    assert(row.getAs[scala.collection.Seq[Long]]("negstart").toList == Nil)
    assert(row.getAs[String]("clamp") == "bc")
  }

  // ------------------------------------------------- trend aggregation mode
  test("trend_aggregate closed forms equal brute-force enumeration") {
    // crafted prices; brute force enumerates every (anchor, subset
    // [, close]) trend the reference's aggregation mode counts
    val prices = Seq(10.0, 12.0, 9.0, 15.0, 11.0, 14.0, 8.0)
    val evt = java.nio.file.Files.createTempFile("graft_ta", ".evt")
    java.nio.file.Files.writeString(evt,
      prices.zipWithIndex.map { case (pr, i) =>
        s"@${i}s StockTick { symbol: \"A\", price: $pr }"
      }.mkString("\n") + "\n")
    val vpl2 =
      """stream T2 = StockTick as first
        |    -> all StockTick where price > first.price as rising
        |    .within(60s)
        |    .partition_by(symbol)
        |    .trend_aggregate(count: count_trends(), events: count_events(rising))
        |    .emit(symbol: first.symbol, count: count, events: events)
        |""".stripMargin
    val got2 = Vpl.runEvt(spark, vpl2, Seq(evt.toString))("T2").get.collect()
    // brute force, 2-step: anchors x nonempty subsets of later-higher
    var t2 = 0L; var e2 = 0L
    for (a <- prices.indices) {
      val n = (a + 1 until prices.size).count(i => prices(i) > prices(a))
      if (n > 0) {
        t2 += (1L << n) - 1
        e2 += n.toLong * (1L << (n - 1))
      }
    }
    assert(got2.length == 1)
    assert(got2.head.getAs[Long]("count") == t2, s"count_trends: $t2")
    assert(got2.head.getAs[Long]("events") == e2, s"count_events: $e2")

    val vpl3 =
      """stream T3 = StockTick as first
        |    -> all StockTick where price > first.price as rising
        |    -> StockTick where price < rising.price as drop
        |    .within(60s)
        |    .partition_by(symbol)
        |    .trend_aggregate(count: count_trends(), events: count_events(rising))
        |    .emit(symbol: first.symbol, count: count, events: events)
        |""".stripMargin
    val got3 = Vpl.runEvt(spark, vpl3, Seq(evt.toString))("T3").get.collect()
    // brute force, 3-step: subsets enumerated; the close predicate
    // sees the subset's LAST element (sase.rs previous semantics)
    var t3 = 0L; var e3 = 0L
    for (a <- prices.indices) {
      val qual = (a + 1 until prices.size).filter(i => prices(i) > prices(a))
      for (mask <- 1 until (1 << qual.size)) {
        val subset = qual.zipWithIndex.collect {
          case (i, b) if (mask & (1 << b)) != 0 => i
        }
        val last = subset.max
        val closes = (last + 1 until prices.size)
          .count(c => prices(c) < prices(last))
        t3 += closes
        e3 += closes.toLong * subset.size
      }
    }
    assert(got3.length == 1)
    assert(got3.head.getAs[Long]("count") == t3, s"count_trends 3-step: $t3")
    assert(got3.head.getAs[Long]("events") == e3, s"count_events 3-step: $e3")
  }

  // ------------------------------------------ analytic window builtins
  // builtins.md Window Functions (lag/lead/row_number/rank): the
  // reference documents them (LSP completion/hover) but its runtime
  // has NO evaluator arm — graft compiles them to Spark window
  // functions. The hash-gated realization is x9_vpl_analytics; these
  // pin the unpartitioned form and the pointed rejections.
  test("analytic builtins: unpartitioned lag/row_number over arrival order") {
    val vpl =
      """stream A = purchase
        |    .emit(event_id: event_id, v: value, rn: row_number(),
        |          prev: lag(value, 1), nxt: lead(value))
        |""".stripMargin
    val rows = Vpl.tableStream(spark, sf, vpl, "A")
      .orderBy("event_id").collect()
    assert(rows.length > 10)
    // row_number over GLOBAL arrival order = 1..n in event_id order
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r.getAs[Long]("rn") == i + 1 })
    // lag/lead shift by exactly one arrival position
    assert(rows.head.isNullAt(rows.head.fieldIndex("prev")))
    assert(rows.last.isNullAt(rows.last.fieldIndex("nxt")))
    assert(rows.sliding(2).forall { case Array(a, b) =>
      b.getAs[Double]("prev") == a.getAs[Double]("v") &&
        a.getAs[Double]("nxt") == b.getAs[Double]("v")
    })
  }

  test("count(distinct(f)) aggregates like count_distinct(f)") {
    // both syntaxes are documented (0.2.0 changelog: "count_distinct
    // aggregation — both count_distinct(field) and
    // count(distinct(field)) syntax supported")
    val vpl =
      """stream D = purchase
        |    .partition_by(user_id)
        |    .window(1h)
        |    .aggregate(nd: count(distinct(event_id)), nd2: count_distinct(event_id))
        |    .emit(user_id: user_id, nd: nd, nd2: nd2)
        |""".stripMargin
    val rows = Vpl.tableStream(spark, sf, vpl, "D").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("nd") == r.getAs[Long]("nd2")))
  }

  test("analytic builtins: rank() without an expression is a pointed error") {
    val vpl =
      """stream A = purchase
        |    .partition_by(user_id)
        |    .emit(event_id: event_id, rk: rank())
        |""".stripMargin
    val e = intercept[VplCompileError](Vpl.tableStream(spark, sf, vpl, "A"))
    assert(e.getMessage.contains("rank(expr)"))
  }

  test("analytic builtins: sequence contexts reject them pointedly") {
    val vpl =
      """stream S = signup as a
        |    -> purchase where user_id == a.user_id as b
        |    .within(30m)
        |    .emit(user_id: a.user_id, rn: row_number())
        |""".stripMargin
    val e = intercept[VplCompileError](Vpl.tableStream(spark, sf, vpl, "S"))
    assert(e.getMessage.contains("arrival order"))
  }

  test("analytic builtins inside .aggregate() raise the pointed error, not a raw Spark one") {
    val vpl =
      """stream S = purchase
        |    .partition_by(user_id)
        |    .window(5m)
        |    .aggregate(x: sum(lag(value)))
        |    .emit(x: x)
        |""".stripMargin
    val e = intercept[VplCompileError](Vpl.tableStream(spark, sf, vpl, "S"))
    assert(e.getMessage.contains("analytic"), e.getMessage)
  }

  test("declaration-loop bodies with ragged indentation never lose content to the dedent") {
    // first body line fixes the dedent at 8; the second sits at 4 — a
    // byte-slice dedent would eat `let ` and corrupt the program
    val vpl =
      "for i in 0..2:\n" +
        "        let a{i} = {i}\n" +
        "    let b{i} = {i} + 10\n"
    val prog = VplParser.parse(vpl)
    val names = prog.lets.map(_.name)
    assert(names == Seq("a0", "b0", "a1", "b1"), names)
  }

  test(".process emit fields shadowing carried ts/event_id/pos are rejected") {
    val evt = java.nio.file.Files.createTempFile("graft_vpl_resv", ".evt")
    java.nio.file.Files.write(evt, "Go { id: 1 }\n".getBytes)
    val vpl =
      """event Go:
        |    id: int
        |
        |fn bad():
        |    emit Out(event_id: 1, v: 2)
        |
        |stream S = Go
        |    .process(bad())
        |""".stripMargin
    val r = Vpl.runEvt(spark, vpl, Seq(evt.toString))("S")
    assert(r.isFailure)
    val msg = r.failed.get.getMessage
    assert(msg.contains("collide") && msg.contains("event_id"), msg)
  }
}
