package graft.perfbench

/** Output checkers, independent of the program: the CDC state against a
 * fold of the generated log, the gate's verdict rows against what the
 * generator planted. */
object Check {

  /** `failed`: operations whose effect is missing from the output, and
   * for the CDC check the keys they touch; `correct` = false when the
   * output holds a row no mix of applied and failed operations could
   * produce. */
  final case class Verdict(correct: Boolean, attempted: Long, failed: Long,
                           notes: Seq[String], failedKeys: Set[Long] = Set.empty) {
    /** Two checks of outputs of the same log: an operation failed when
     * either output lost it, so the counts do not grow with the number
     * of outputs checked. */
    def union(o: Verdict): Verdict = {
      val keys = failedKeys ++ o.failedKeys
      Verdict(correct && o.correct, math.max(attempted, o.attempted), keys.size.toLong,
        (notes ++ o.notes).distinct, keys)
    }
  }

  /** One output row of the CDC sink: key (None = null key) and row. */
  final case class StateRow(key: Option[Long], row: Order)

  /**
   * Final LogTable state vs the last-op-by-offset fold. A missing key
   * (its insert or update lost), an extra key (its delete lost) and a
   * stale key (a later update lost) each count one failed operation;
   * a row that never existed for its key, a null key or a key listed
   * twice makes the output incorrect.
   */
  def cdc(log: Seq[Change], out: Seq[StateRow]): Verdict = {
    val want = Gen.oracle(log)
    val history = log.groupBy(_.key).view.mapValues(_.flatMap(_.after).toSet).toMap
    var correct = true
    val notes = Seq.newBuilder[String]
    if (out.exists(_.key.isEmpty)) { correct = false; notes += "null key in output" }
    val keyed = out.flatMap(r => r.key.map(_ -> r.row))
    val got = keyed.toMap
    if (got.size != keyed.size) { correct = false; notes += "duplicate keys in output" }
    var missing, extra, stale = 0L
    val failedKeys = Set.newBuilder[Long]
    (want.keySet ++ got.keySet).foreach { k =>
      (want.get(k), got.get(k)) match {
        case (Some(w), Some(g)) if w == g => ()
        case (Some(_), None) => missing += 1; failedKeys += k
        case (w, Some(g)) =>
          if (!history.getOrElse(k, Set.empty[Order]).contains(g)) {
            correct = false; notes += s"key $k holds a row never written"
          }
          if (w.isEmpty) extra += 1 else stale += 1
          failedKeys += k
        case (None, None) => ()
      }
    }
    if (extra > 0) notes += s"$extra deleted keys still live"
    if (missing > 0) notes += s"$missing live keys missing"
    if (stale > 0) notes += s"$stale keys stale"
    Verdict(correct, log.size.toLong, missing + extra + stale, notes.result(),
      failedKeys.result())
  }

  /** One verdict row of the gate. */
  final case class GateRow(docId: Long, admitted: Boolean)

  /**
   * Gate verdicts vs the submitted waves: every submitted document has
   * exactly one verdict row (a document without one counts as failed),
   * and every planted exact copy or benchmark copy is rejected (an
   * admitted one counts as failed). A second row for a document, or a
   * row for a document never submitted, makes the output incorrect.
   */
  def gate(submitted: Seq[Gen.Doc], out: Seq[GateRow]): Verdict = {
    val byId = out.groupBy(_.docId)
    val ids = submitted.map(_.id).toSet
    var correct = true
    val notes = Seq.newBuilder[String]
    val dupRows = byId.count(_._2.size > 1)
    if (dupRows > 0) { correct = false; notes += s"$dupRows documents with several verdict rows" }
    val unknown = byId.keySet.count(id => !ids(id))
    if (unknown > 0) { correct = false; notes += s"$unknown verdict rows for unknown documents" }
    val noVerdict = submitted.count(d => !byId.contains(d.id)).toLong
    val leaked = submitted.count(d => (d.plant == "exact" || d.plant == "bench") &&
      byId.get(d.id).exists(_.exists(_.admitted))).toLong
    if (noVerdict > 0) notes += s"$noVerdict documents without a verdict"
    if (leaked > 0) notes += s"$leaked planted copies admitted"
    Verdict(correct, submitted.size.toLong, noVerdict + leaked, notes.result())
  }

  /** Order-independent digest of verdict rows (for the same-seed check). */
  def digest(out: Seq[GateRow]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    out.sortBy(_.docId).foreach(r => md.update(s"${r.docId}:${r.admitted};".getBytes))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
