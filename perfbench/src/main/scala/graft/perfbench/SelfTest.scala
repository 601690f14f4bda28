package graft.perfbench

/**
 * Checker self-test at a tiny size: the same seed regenerates identical
 * inputs and an identical gate verdict digest, and one planted wrong row
 * in each workload's real output is flagged by its checker.
 */
object SelfTest {

  private def digest(xs: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach(x => md.update(String.valueOf(x).getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def run(o: Opts): Result = {
    val lines = Seq.newBuilder[String]
    var ok = true
    var checks = 0L
    def expect(what: String, cond: Boolean): Unit = {
      checks += 1
      if (!cond) ok = false
      lines += s"${if (cond) "PASS" else "FAIL"} $what"
    }

    // 1. same seed, same inputs; another seed, other inputs
    val wire = (s: Long) => digest(Gen.wire(Gen.changeLog(s, 3000)))
    val docs = (s: Long) => digest(Gen.corpus(s, 80, 20, 4, 30).waves.flatten)
    expect("same seed regenerates the change log", wire(o.seed) == wire(o.seed))
    expect("another seed changes the change log", wire(o.seed) != wire(o.seed + 1))
    expect("same seed regenerates the document waves", docs(o.seed) == docs(o.seed))

    // 2. the CDC checker on a real drained LogTable
    val tiny = o.copy(tiny = true, trace = false, seconds = 1)
    val cdcOpts = tiny.copy(work = o.work.resolve("cdc"))
    val log = Gen.changeLog(o.seed, 2000)
    val wireRows = Gen.wire(log)
    val staged = Stage.wireFiles(wireRows.grouped(wireRows.size / 2 + 1).toSeq,
      cdcOpts.work.resolve("staged"))
    val rig = Cdc.Rig(cdcOpts.work.resolve("rep"))
    java.nio.file.Files.createDirectories(rig.in)
    staged.zipWithIndex.foreach { case (p, i) =>
      Stage.publish(p, rig.in, Stage.fileName(i), 1700000000000L + i) }
    val (spark, engine, query, _) = Cdc.setUp(cdcOpts, rig)
    query.processAllAvailable()
    val state = Cdc.readState(spark, rig.sink)
    engine.delete(Cdc.Name)
    val base = Check.cdc(log, state)
    lines += s"cdc output as drained: correct=${base.correct} failed=${base.failed}/${base.attempted} " +
      base.notes.mkString("; ")
    val live = state.filter(_.key.nonEmpty)
    val victim = live.head
    expect("cdc: a value never written is flagged incorrect", !Check.cdc(log,
      state.map(r => if (r == victim) r.copy(row = r.row.copy(amountCents = -1)) else r)).correct)
    expect("cdc: a dropped live key counts one more failure",
      Check.cdc(log, state.filterNot(_ == victim)).failed == base.failed + 1)
    expect("cdc: a row listed twice is flagged incorrect",
      !Check.cdc(log, state :+ victim).correct)
    expect("cdc: two drains of one log count a shared failure once and a new one more",
      base.union(base).failed == base.failed && base.union(base).attempted == base.attempted &&
        base.union(Check.cdc(log, state.filterNot(_ == victim))).failed == base.failed + 1)
    val perfect = Gen.oracle(log).toSeq.map { case (k, r) => Check.StateRow(Some(k), r) }
    val deleted = log.filter(_.op == 'd').map(_.key).filterNot(Gen.oracle(log).contains).head
    val lastRow = log.filter(_.key == deleted).flatMap(_.after).last
    expect("cdc: the oracle's own state checks clean", {
      val v = Check.cdc(log, perfect); v.correct && v.failed == 0 })
    expect("cdc: a deleted key left live counts one failure",
      Check.cdc(log, perfect :+ Check.StateRow(Some(deleted), lastRow)).failed == 1)

    // 3. the gate checker on a real gate run, twice with the same seed
    val g1 = Admission.run(tiny.copy(work = o.work.resolve("gate1")))
    val g2 = Admission.run(tiny.copy(work = o.work.resolve("gate2")))
    val dig = (r: Result) => r.notes.find(_.startsWith("digest=")).get
    lines += s"gate output as run: correct=${g1.correct} failed=${g1.failed}/${g1.attempted} ${dig(g1)}"
    expect("same seed gives the same gate verdict digest", dig(g1) == dig(g2))
    val corpus = Gen.corpus(o.seed, 80, 20, 4, 30)
    val gateRows = Admission.verdicts(Session.build(o.work),
      o.work.resolve("gate1").resolve(s"rep${Admission.SetupWarm}").resolve("gate"))
    val judged = gateRows.map(_.docId).toSet
    val submitted = corpus.waves.flatten.filter(d => judged(d.id))
    val gbase = Check.gate(submitted, gateRows)
    val planted = submitted.find(d => d.plant == "exact").get
    expect("gate: an admitted planted copy counts one more failure",
      Check.gate(submitted, gateRows.map(r =>
        if (r.docId == planted.id) r.copy(admitted = true) else r)).failed == gbase.failed + 1)
    expect("gate: a second verdict row for a document is flagged incorrect",
      !Check.gate(submitted, gateRows :+ gateRows.head).correct)
    expect("gate: a missing verdict row counts one more failure",
      Check.gate(submitted, gateRows.tail).failed == gbase.failed + 1)

    Result(ok, checks, lines.result().count(_.startsWith("FAIL")).toLong, Nil, lines.result())
  }
}
