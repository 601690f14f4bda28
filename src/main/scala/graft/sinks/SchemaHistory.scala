package graft.sinks

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Debezium's schema-history topic analog ("schema as a stream",
 * `실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:154-155`;
 * contents inspected at `실습수행/Debezium MySQL CDC Source Connector
 * 실습 - 03.md:168-172`): every observed schema transition of a sink
 * table becomes an ordered DDL event.
 *
 * Events carry a monotonic per-table version, never a wall clock — the
 * history is deterministic and replayable. Add-only drift emits the
 * `ALTER TABLE ADD` the engine actually applies (K4); drops and retypes
 * are recorded as `manual` events because the reference never
 * auto-applies them (the labs fix the target by hand and pause/resume,
 * `실습수행/Debezium MySQL CDC Source Connector 실습 - 03.md:246-341`).
 *
 * The durable form is a JSON-lines file next to the sink state — itself
 * streamable (`spark.readStream.json`), which is exactly the
 * schema-changes-topic consumption pattern. A small JSON file beside it
 * holds the table's add-only schema, so recording never reads the sink.
 */
object SchemaHistory {

  final case class Event(version: Int, change: String, ddl: String)

  /** Replay a chain of observed schemas into its DDL-event history:
   * version 1 is the CREATE, each subsequent transition contributes one
   * event per changed field. */
  def events(table: String, pks: Seq[String],
             schemas: Seq[StructType]): Seq[Event] = {
    if (schemas.isEmpty) return Seq.empty
    var version = 0
    def next(change: String, ddl: String): Event = {
      version += 1; Event(version, change, ddl)
    }
    val create =
      next("create", SchemaEvolution.createTableDdl(table, schemas.head, pks))
    val rest = schemas.sliding(2).flatMap {
      case Seq(prev, cur) => transition(table, prev, cur).map {
        case (change, ddl) => next(change, ddl)
      }
      case _ => Seq.empty
    }.toSeq
    create +: rest
  }

  /** The (change, ddl) events of one schema transition. */
  private def transition(table: String, prev: StructType,
                         cur: StructType): Seq[(String, String)] = {
    val d = SchemaEvolution.diff(prev, cur)
    SchemaEvolution.evolveDdl(table, d).map(ddl => ("alter", ddl)) ++
      d.dropped.map(f =>
        ("manual", s"-- NOT auto-applied: DROP COLUMN ${f.name}")) ++
      d.retyped.map { case (from, to) =>
        ("manual", s"-- NOT auto-applied: retype ${to.name} " +
          s"${SchemaEvolution.sqlType(from.dataType)} -> " +
          s"${SchemaEvolution.sqlType(to.dataType)}")
      }
  }

  // ---- durable JSON-lines history next to a sink's state dir -------------

  def historyPath(sinkPath: String): java.nio.file.Path =
    Paths.get(sinkPath + ".schema_history.jsonl")

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Append the events of one batch's schema `cur` (the CREATE at first,
   * then its transition from the stored add-only schema, which it then
   * extends), continuing the stored version sequence. Idempotent per
   * DDL: an event whose ddl line is already in the history is skipped,
   * so a batch retry, or a persistently drifted writer (the add-only
   * table keeps evolved columns an older incoming schema never
   * re-declares), cannot grow the file without bound; a crash between
   * the history append and the schema publish re-derives skipped events. */
  def record(sinkPath: String, table: String, pks: Seq[String],
             cur: StructType): Unit = {
    val sp = Paths.get(sinkPath + ".schema.json")
    val prev = Option.when(Files.exists(sp))(
      DataType.fromJson(Files.readString(sp)).asInstanceOf[StructType])
    val seen = load(sinkPath)
    // exact ddl-field comparison (it is the line's last member) — a
    // substring check would drop a DDL that happens to prefix another
    def recorded(ddl: String): Boolean =
      seen.exists(_.endsWith(s""""ddl":"${esc(ddl)}"}"""))
    val evs = (prev match {
      case None => events(table, pks, Seq(cur)).map(e => (e.change, e.ddl))
      case Some(p) => transition(table, p, cur)
    }).filterNot { case (_, ddl) => recorded(ddl) }
      .zipWithIndex.map { case ((change, ddl), i) =>
        Event(seen.size + i + 1, change, ddl)
      }
    val p = historyPath(sinkPath)
    Option(p.getParent).foreach(Files.createDirectories(_))
    if (evs.nonEmpty) {
      val lines = evs.map(e =>
        s"""{"version":${e.version},"change":"${esc(e.change)}","ddl":"${esc(e.ddl)}"}""")
      Files.writeString(p, lines.mkString("", "\n", "\n"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    val addOnly = prev.fold(cur)(t =>
      StructType(t.fields ++ cur.fields.filterNot(f => t.fieldNames.contains(f.name))))
    if (!prev.contains(addOnly))
      graft.state.StateDir.publish(Paths.get(s"$sp.tmp"), sp)(
        Files.writeString(_, addOnly.json))
  }

  /** The stored history, oldest first (empty if none recorded). */
  def load(sinkPath: String): Seq[String] = {
    val p = historyPath(sinkPath)
    if (!Files.exists(p)) Seq.empty
    else Files.readString(p).linesIterator.filter(_.nonEmpty).toSeq
  }
}
