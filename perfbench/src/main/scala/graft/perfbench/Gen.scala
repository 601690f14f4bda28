package graft.perfbench

import java.nio.file.{Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** One orders row, as the source table holds it. */
final case class Order(id: Long, customer: Long, status: String,
                       amountCents: Long, tsMs: Long)

/** One captured change: c(reate), u(pdate) or d(elete). */
final case class Change(key: Long, op: Char, before: Option[Order],
                        after: Option[Order])

/** One record as staged on the wire: the Kafka dump shape the
 * `wireFormat=json_envelope` source reads. A null value is a tombstone. */
final case class WireRow(key: String, value: String, topic: String,
                         offset: Long)

/**
 * The seeded, single-threaded load generator.
 *
 * The change log has the shape of the Debezium labs' `CONNECT_DML_TEST`
 * soak: every step inserts an order, every [[UpdateEvery]]th step
 * updates and every [[DeleteEvery]]th step deletes an earlier live key.
 * Updated and deleted keys are skewed towards recent orders (a cubic
 * draw over the live keys in insertion order). Records are Debezium
 * envelopes `{before, after, op, source, ts_ms}` inside the C1
 * `{schema, payload}` JSON envelope, keyed by a schema'd key envelope;
 * each delete is followed by a Kafka tombstone for its key.
 */
object Gen {
  val UpdateEvery = 4
  val DeleteEvery = 10
  val Topic = "mysql01.oc.orders"
  private val Statuses = Array("pending", "paid", "shipped", "returned")
  private val BaseTs = 1700000000000L

  val RowDdl = "order_id BIGINT, customer_id BIGINT, status STRING, " +
    "amount_cents BIGINT, order_ts BIGINT"
  val EnvelopeDdl = s"before STRUCT<$RowDdl>, after STRUCT<$RowDdl>, " +
    "op STRING, source STRUCT<name: STRING, ts_ms: BIGINT, table: STRING, " +
    "pos: BIGINT>, ts_ms BIGINT"

  private def connectSchema(ddl: String): String =
    graft.codec.JsonEnvelope.connectSchemaJson(
      DataType.fromDDL(ddl).asInstanceOf[StructType])
  private lazy val valueSchema = connectSchema(EnvelopeDdl)
  private lazy val keySchema = connectSchema("order_id BIGINT")

  def changeLog(seed: Long, steps: Int): Vector[Change] = {
    val rnd = new SplittableRandom(seed)
    val live = mutable.ArrayBuffer.empty[Long]
    val rows = mutable.HashMap.empty[Long, Order]
    val out = Vector.newBuilder[Change]
    def pick(): Int = {
      val u = rnd.nextDouble()
      live.size - 1 - (live.size * u * u * u).toInt
    }
    for (step <- 1 to steps) {
      val k = step.toLong
      val o = Order(k, rnd.nextLong(1, 5000), Statuses(0),
        rnd.nextLong(100, 500000), BaseTs + step * 1000L)
      live += k; rows(k) = o
      out += Change(k, 'c', None, Some(o))
      if (step % UpdateEvery == 0 && live.size > 1) {
        val uk = live(pick())
        val old = rows(uk)
        val nu = old.copy(status = Statuses(rnd.nextInt(Statuses.length)),
          amountCents = rnd.nextLong(100, 500000),
          tsMs = BaseTs + step * 1000L + 1)
        rows(uk) = nu
        out += Change(uk, 'u', Some(old), Some(nu))
      }
      if (step % DeleteEvery == 0 && live.size > 1) {
        val i = pick()
        val dk = live(i)
        live.remove(i)
        out += Change(dk, 'd', rows.remove(dk), None)
      }
    }
    out.result()
  }

  /** The independent reference: fold the log by offset, last op wins. */
  def oracle(log: Seq[Change]): Map[Long, Order] =
    log.foldLeft(Map.empty[Long, Order]) { (m, c) =>
      c.after match {
        case Some(o) => m.updated(c.key, o)
        case None => m - c.key
      }
    }

  private def rowJson(o: Option[Order]): String = o match {
    case None => "null"
    case Some(r) =>
      s"""{"order_id":${r.id},"customer_id":${r.customer},"status":"${r.status}",""" +
        s""""amount_cents":${r.amountCents},"order_ts":${r.tsMs}}"""
  }

  /** Encode the log as wire records, offsets from 0 in log order. */
  def wire(log: Seq[Change]): Vector[WireRow] = {
    val out = Vector.newBuilder[WireRow]
    var off = 0L
    log.foreach { c =>
      val key = s"""{"schema":$keySchema,"payload":{"order_id":${c.key}}}"""
      val ts = c.after.orElse(c.before).get.tsMs
      val payload = s"""{"before":${rowJson(c.before)},"after":${rowJson(c.after)},""" +
        s""""op":"${c.op}","source":{"name":"mysql01","ts_ms":$ts,""" +
        s""""table":"orders","pos":$off},"ts_ms":$ts}"""
      out += WireRow(key, s"""{"schema":$valueSchema,"payload":$payload}""", Topic, off)
      off += 1
      if (c.op == 'd') { out += WireRow(key, null, Topic, off); off += 1 }
    }
    out.result()
  }

  // ---- documents for the admission gate ---------------------------------

  /** A document as the gate receives it, with what the generator planted. */
  final case class Doc(id: Long, text: String, plant: String)

  /** The gate's traffic is drawn from a sample of the test data's
   * `documents.parquet`: its first 2000 rows (doc_id 0-1999) at scale
   * 0.1, kept next to the benchmark. Resolved against the checkout root,
   * the working directory of a run. */
  val DocsFile: Path = Paths.get("perfbench", "data", "documents.parquet")

  /** The sample's texts, in doc_id order (read with the parquet library,
   * no Spark job). */
  lazy val documents: Vector[String] = {
    val r = ParquetReader.builder(new GroupReadSupport(),
      new HPath(DocsFile.toAbsolutePath.toUri)).withConf(new Configuration()).build()
    val out = Vector.newBuilder[(Long, String)]
    try {
      var g = r.read()
      while (g != null) {
        if (g.getFieldRepetitionCount("text") > 0)
          out += g.getLong("doc_id", 0) -> g.getString("text", 0)
        g = r.read()
      }
    } finally r.close()
    out.result().sortBy(_._1).map(_._2)
  }

  final case class Corpus(seed: Vector[Doc], bench: Vector[Doc],
                          waves: Vector[Vector[Doc]])

  /**
   * Seed corpus, frozen benchmark corpus and document waves, sampled and
   * recombined from [[documents]]. The sample is shuffled by the seed;
   * its head is the seed corpus, the next documents the benchmark corpus
   * (disjoint from it, as in the l14 fixture), the rest the pool fresh
   * documents are recombined from: the leading 30-70% of one pool
   * document's tokens followed by the trailing 30-70% of another's, so a
   * run can draw more fresh documents than the pool holds. Each wave
   * holds fresh documents plus, per 20 documents, three plants: an exact
   * copy of a seed document (`exact`), a near copy with three tokens
   * replaced by tokens of other documents (`near`) and a verbatim
   * benchmark document (`bench`). Exact and benchmark plants target
   * corpora the gate holds from bootstrap, so each must be rejected
   * whatever the gate admitted before.
   */
  def corpus(seed: Long, seedDocs: Int, benchDocs: Int, waves: Int,
             waveDocs: Int): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val all = documents.toArray
    for (i <- all.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    require(all.length > seedDocs + benchDocs + 2, "document sample too small")
    val pool = all.drop(seedDocs + benchDocs).map(_.split(" "))
    def poolDoc(): Array[String] = pool(rnd.nextInt(pool.length))
    def cut(n: Int): Int = math.max(1, (n * (0.3 + 0.4 * rnd.nextDouble())).toInt)
    def recombined(): String = {
      val a = poolDoc(); val b = poolDoc()
      (a.take(cut(a.length)) ++ b.drop(cut(b.length))).mkString(" ")
    }
    var next = 1L
    def doc(text: String, plant: String): Doc = { val d = Doc(next, text, plant); next += 1; d }
    val seedV = all.take(seedDocs).toVector.map(doc(_, "seed"))
    val benchV = all.slice(seedDocs, seedDocs + benchDocs).toVector.map(doc(_, "benchmark"))
    val ws = Vector.tabulate(waves) { _ =>
      val plants = math.max(1, waveDocs / 20)
      val docs = Vector.newBuilder[Doc]
      for (_ <- 0 until waveDocs - 3 * plants) docs += doc(recombined(), "fresh")
      for (_ <- 0 until plants) {
        docs += doc(seedV(rnd.nextInt(seedV.size)).text, "exact")
        val toks = seedV(rnd.nextInt(seedV.size)).text.split(" ")
        for (_ <- 0 until 3) {
          val src = poolDoc()
          toks(rnd.nextInt(toks.length)) = src(rnd.nextInt(src.length))
        }
        docs += doc(toks.mkString(" "), "near")
        docs += doc(benchV(rnd.nextInt(benchV.size)).text, "bench")
      }
      // shuffle so plants do not sit at the end of every wave
      val v = docs.result().toArray
      for (i <- v.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = v(i); v(i) = v(j); v(j) = t
      }
      v.toVector
    }
    Corpus(seedV, benchV, ws)
  }
}
