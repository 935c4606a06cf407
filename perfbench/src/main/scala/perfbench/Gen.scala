package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/**
 * Seeded input generator. Every table is first written as text (CSV,
 * NDJSON or XML) through [[TextOut]], which digests the exact bytes; the
 * tables the program reads as parquet or xlsx are converted from those
 * text files afterwards (Workload.materialize), so the digest pins the
 * content while the binary formats keep their own layout. The same seed
 * always yields the same bytes; the seed-level digest is recorded and a
 * later run with the same seed and different bytes fails (see Main).
 *
 * Nothing here touches Spark, so the determinism spec runs without a
 * session.
 */
object Gen {

  final case class FileFact(name: String, rows: Long, bytes: Long, sha256: String)

  /** Line writer that digests and counts what it writes. */
  final class TextOut(dir: Path, val name: String) {
    private val md = MessageDigest.getInstance("SHA-256")
    private val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(dir.resolve(name)), 1 << 16)
    private var rows = 0L
    private var bytes = 0L
    def row(s: String): Unit = { raw(s); rows += 1 }
    def raw(s: String): Unit = {
      val b = (s + "\n").getBytes(UTF_8)
      md.update(b); out.write(b); bytes += b.length
    }
    def close(): FileFact = {
      out.close()
      FileFact(name, rows, bytes, hex(md.digest()))
    }
  }

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** One digest over a workload's files, in name order. */
  def digest(files: Seq[FileFact]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.sortBy(_.name).foreach(f => md.update(s"${f.name}:${f.sha256};".getBytes(UTF_8)))
    hex(md.digest())
  }

  /** Independent stream per table, so adding a table never shifts another's data. */
  private def rng(seed: Long, table: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ table.hashCode.toLong)

  private def q(s: String): String = "\"" + s + "\""

  // ------------------------------------------------------------ curation

  private val Stop = IndexedSeq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Pseudo-words of 3-9 letters from syllables: alphabetic, so a document
    * of 60+ of them passes every Gopher rule. */
  private def vocabulary(r: SplittableRandom, n: Int): IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "min", "tra", "vel", "sor", "en", "dit",
      "mar", "pu", "ne", "cor", "sta", "ri", "bel", "ton", "ga", "wes")
    (0 until n).map { _ =>
      val sb = new StringBuilder
      while (sb.length < 3) sb ++= syl(r.nextInt(syl.size))
      if (sb.length < 7 && r.nextBoolean()) sb ++= syl(r.nextInt(syl.size))
      sb.toString
    }
  }

  final case class Curation(files: Seq[FileFact], docs: Long, exactCopyIds: Seq[Long],
                            nearCopies: Long, shortDocs: Long)

  /** `base` documents (ids 1..base), of which ~8% are too short for the
    * Gopher word-count rule; then `exactShare` exact copies and
    * `nearShare` near copies (5% of words replaced) of long documents,
    * with ids above every original so the cluster minimum is the original. */
  def curation(dir: Path, seed: Long, base: Int, exactShare: Double,
               nearShare: Double): Curation = {
    val r = rng(seed, "documents")
    val vocab = vocabulary(r, 3000)
    def word(): String =
      if (r.nextInt(4) == 0) Stop(r.nextInt(Stop.size)) else vocab(r.nextInt(vocab.size))
    val texts = new Array[Array[String]](base)
    var short = 0L
    for (i <- 0 until base) {
      val isShort = r.nextInt(100) < 8
      if (isShort) short += 1
      val n = if (isShort) 15 + r.nextInt(25) else 60 + r.nextInt(90)
      texts(i) = Array.fill(n)(word())
    }
    // mixed case and doubled spaces give text_normalize real work; they
    // are identical in an exact copy
    def render(ws: Array[String]): String = {
      val sb = new StringBuilder
      for (k <- ws.indices) {
        if (k > 0) sb ++= (if (k % 11 == 0) "  " else " ")
        sb ++= (if (k % 7 == 0) ws(k).capitalize else ws(k))
      }
      sb.toString
    }
    val out = new TextOut(dir, "documents.jsonl")
    for (i <- 0 until base) out.row(s"""{"doc_id":${i + 1},"text":${q(render(texts(i)))}}""")
    val longIdx = (0 until base).filter(i => texts(i).length >= 60)
    var next = base.toLong
    val exact = (0 until (base * exactShare).toInt).map { _ =>
      val src = longIdx(r.nextInt(longIdx.size))
      next += 1
      out.row(s"""{"doc_id":$next,"text":${q(render(texts(src)))}}""")
      next
    }
    val nNear = (base * nearShare).toInt
    for (_ <- 0 until nNear) {
      val ws = texts(longIdx(r.nextInt(longIdx.size))).clone()
      for (k <- ws.indices if r.nextInt(20) == 0) ws(k) = vocab(r.nextInt(vocab.size))
      next += 1
      out.row(s"""{"doc_id":$next,"text":${q(render(ws))}}""")
    }
    Curation(Seq(out.close()), next, exact, nNear, short)
  }

  // ---------------------------------------------------------- small_jobs

  /** Expected per-port counts of one small job, as the runtime reports
    * them: lines_forwarded keyed `<component>.<port>`, lines_received
    * keyed `<component>.<in_port>`. */
  final case class Expect(rows: Long, forwarded: Map[String, Long],
                          received: Map[String, Long])

  final case class Small(files: Seq[FileFact], expect: Map[String, Expect])

  val Segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")

  def small(dir: Path, seed: Long, scale: Double = 1.0): Small = {
    def n(base: Int) = math.max(100, (base * scale).toInt)
    val files = Seq.newBuilder[FileFact]
    val ex = Map.newBuilder[String, Expect]

    { // csv filter: id, qty, flag — pass = qty <= 25 and flag != 'A'
      val r = rng(seed, "csv_filter"); val rows = n(60000)
      val o = new TextOut(dir, "csv_filter.csv")
      o.raw("id,qty,flag")
      var pass = 0L
      for (i <- 0 until rows) {
        val qty = 1 + r.nextInt(50); val flag = Flags(r.nextInt(3))
        o.row(s"${i + 1},$qty,$flag")
        if (qty <= 25 && flag != "A") pass += 1
      }
      files += o.close()
      ex += "csv_filter" -> Expect(rows,
        Map("r.out" -> rows, "conv.out" -> rows, "flt.pass" -> pass),
        Map("conv.in" -> rows, "flt.in" -> rows, "w.in" -> pass))
    }
    { // parquet join + agg: orders x customers, group by segment
      val r = rng(seed, "join_agg"); val orders = n(40000); val custs = n(5000)
      val c = new TextOut(dir, "customers.jsonl")
      val segs = scala.collection.mutable.HashSet.empty[String]
      val segOf = Array.fill(custs)(Segments(r.nextInt(Segments.size)))
      for (k <- 0 until custs) c.row(s"""{"c_custkey":${k + 1},"c_segment":${q(segOf(k))}}""")
      val o = new TextOut(dir, "orders.jsonl")
      for (k <- 0 until orders) {
        val cust = r.nextInt(custs); segs += segOf(cust)
        o.row(s"""{"o_orderkey":${k + 1},"o_custkey":${cust + 1},"o_totalcents":${100 + r.nextInt(500000)}}""")
      }
      files += c.close(); files += o.close()
      ex += "join_agg" -> Expect(orders + custs,
        Map("ord.out" -> orders, "cust.out" -> custs, "sm.out" -> orders,
          "agg.out" -> segs.size.toLong),
        Map("sm.orders" -> orders, "sm.customer" -> custs, "agg.in" -> orders,
          "w.in" -> segs.size.toLong))
    }
    { // split/merge: tee, two status filters, union, count by status
      val r = rng(seed, "split_merge"); val rows = n(30000)
      val o = new TextOut(dir, "split_merge.csv")
      o.raw("o_orderkey,o_status")
      val st = IndexedSeq("F", "O", "P"); val cnt = Array(0L, 0L, 0L)
      for (i <- 0 until rows) { val s = r.nextInt(3); cnt(s) += 1; o.row(s"${i + 1},${st(s)}") }
      files += o.close()
      val merged = cnt(0) + cnt(1)
      val groups = Seq(cnt(0), cnt(1)).count(_ > 0).toLong
      ex += "split_merge" -> Expect(rows,
        Map("r.out" -> rows, "sp.a" -> rows, "sp.b" -> rows, "fa.pass" -> cnt(0),
          "fb.pass" -> cnt(1), "m.merge" -> merged, "agg.out" -> groups),
        Map("sp.in" -> rows, "fa.in" -> rows, "fb.in" -> rows, "m.in" -> merged,
          "agg.in" -> merged, "w.in" -> groups))
    }
    { // xml: <rec><k/><g/></rec>, aggregated by g
      val r = rng(seed, "xml_agg"); val rows = n(5000)
      val o = new TextOut(dir, "records.xml")
      o.raw("<records>")
      val gs = scala.collection.mutable.HashSet.empty[Int]
      for (i <- 0 until rows) {
        val g = r.nextInt(12); gs += g
        o.row(s"<rec><k>${i + 1}</k><g>$g</g></rec>")
      }
      o.raw("</records>")
      files += o.close()
      ex += "xml_agg" -> Expect(rows,
        Map("r.out" -> rows, "conv.out" -> rows, "agg.out" -> gs.size.toLong),
        Map("conv.in" -> rows, "agg.in" -> rows, "w.in" -> gs.size.toLong))
    }
    { // excel (staged as CSV): custkey, segment, nation; BUILDING by nation
      val r = rng(seed, "excel_agg"); val rows = n(2000)
      val o = new TextOut(dir, "excel_customers.csv")
      o.raw("c_custkey,c_segment,c_nationkey")
      var pass = 0L
      val nations = scala.collection.mutable.HashSet.empty[Int]
      for (i <- 0 until rows) {
        val seg = Segments(r.nextInt(Segments.size)); val nat = r.nextInt(25)
        o.row(s"${i + 1},$seg,$nat")
        if (seg == "BUILDING") { pass += 1; nations += nat }
      }
      files += o.close()
      ex += "excel_agg" -> Expect(rows,
        Map("r.out" -> rows, "conv.out" -> rows, "flt.pass" -> pass,
          "agg.out" -> nations.size.toLong),
        Map("conv.in" -> rows, "flt.in" -> rows, "agg.in" -> pass,
          "w.in" -> nations.size.toLong))
    }
    { // NDJSON, all strings; every third maybe_int is not a number
      val r = rng(seed, "ndjson_tc"); val rows = n(20000)
      val o = new TextOut(dir, "ndjson_tc.jsonl")
      for (i <- 0 until rows) {
        val mi = if (i % 3 == 0) s"x$i" else (r.nextInt(100000)).toString
        o.row(s"""{"id":"${i + 1}","amount":"${r.nextInt(1000000)}","maybe_int":"$mi"}""")
      }
      files += o.close()
      ex += "ndjson_tc" -> Expect(rows,
        Map("r.out" -> rows, "conv.out" -> rows),
        Map("conv.in" -> rows, "w.in" -> rows))
    }
    { // events for the window shape
      val r = rng(seed, "window"); val rows = n(20000)
      val o = new TextOut(dir, "events.jsonl")
      for (i <- 0 until rows)
        o.row(s"""{"user_id":${1 + r.nextInt(500)},"ts":${i + 1},"value":${r.nextInt(10000)}}""")
      files += o.close()
      ex += "window" -> Expect(rows,
        Map("r.out" -> rows, "win.out" -> rows),
        Map("win.in" -> rows, "w.in" -> rows))
    }
    { // key/value rows upserted into Derby
      val r = rng(seed, "jdbc_upsert"); val rows = n(2000)
      val o = new TextOut(dir, "kv.jsonl")
      for (i <- 0 until rows) o.row(s"""{"k":"${i + 1}","v":"v${r.nextInt(1000000)}"}""")
      files += o.close()
      ex += "jdbc_upsert" -> Expect(rows, Map("r.out" -> rows), Map("w.in" -> rows))
    }
    Small(files.result(), ex.result())
  }
}
