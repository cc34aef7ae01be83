package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.types._

/** Seeded input generators. Every input of every workload is a pure
  * function of the seed and the sizes below; the program under test
  * only ever sees the files and rows made here. */
object Gen {

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
  }

  /** Write `n` rows as JSON lines split over `parts` files of `dir`. */
  private def writeParts(dir: File, parts: Int, n: Long)(line: (Long, java.lang.StringBuilder) => Unit): Unit = {
    val ws = (0 until parts).map(p => writer(new File(dir, f"part-$p%05d.json")))
    val sb = new java.lang.StringBuilder(256)
    try {
      var i = 0L
      while (i < n) {
        sb.setLength(0); line(i, sb); sb.append('\n')
        ws((i % parts).toInt).append(sb)
        i += 1
      }
    } finally ws.foreach(_.close())
  }

  private def money(sb: java.lang.StringBuilder, cents: Long): Unit = {
    sb.append(cents / 100).append('.')
    val c = cents % 100
    if (c < 10) sb.append('0')
    sb.append(c)
  }

  private def date(day: Long): String = java.time.LocalDate.ofEpochDay(day).toString

  // ---------------------------------------------------------------- denorm_etl

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", LongType), StructField("n_name", StringType),
    StructField("n_regionkey", LongType)))
  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType)))
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", LongType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType)))

  final case class TpchRows(nation: Long, customer: Long, orders: Long, lineitem: Long)

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val day0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  /** TPC-H-shaped JSON-line exports at scale factor `sf` (sf 1 =
    * 150,000 customers, 1.5 M orders, ~6 M line items). Orders go to
    * customers whose key is not a multiple of 3, so a third of the
    * customers have no orders (nested denorm gives them an empty
    * list); 2 % of customers carry a nation key the nation table lacks
    * (the lookup falls back to the key). */
  def tpch(seed: Long, sf: Double, dir: File, parts: Int): TpchRows = {
    val r = new SplittableRandom(seed)
    val nCust = math.max(30L, math.round(150000 * sf))
    val nOrd = nCust * 10
    writeParts(new File(dir, "nation"), 1, 25) { (i, sb) =>
      sb.append("{\"n_nationkey\":").append(i).append(",\"n_name\":\"NATION_").append(i)
        .append("\",\"n_regionkey\":").append(i % 5).append('}')
    }
    writeParts(new File(dir, "customer"), parts, nCust) { (i, sb) =>
      val nk = if (r.nextInt(50) == 0) 25 + r.nextInt(5) else r.nextInt(25)
      sb.append("{\"c_custkey\":").append(i).append(",\"c_name\":\"Customer#")
        .append(String.format("%09d", Long.box(i))).append("\",\"c_nationkey\":").append(nk)
        .append(",\"c_acctbal\":")
      money(sb, r.nextLong(-99999L, 999999L))
      sb.append(",\"c_mktsegment\":\"").append(segments(r.nextInt(5))).append("\"}")
    }
    // line items are drawn per order, so orders and line items are
    // written together from one stream of the generator
    val ordW = (0 until parts).map(p => writer(new File(dir, f"orders/part-$p%05d.json")))
    val liW = (0 until parts).map(p => writer(new File(dir, f"lineitem/part-$p%05d.json")))
    val sb = new java.lang.StringBuilder(256)
    var nLine = 0L
    try {
      var o = 0L
      while (o < nOrd) {
        var c = r.nextLong(nCust)
        while (c % 3 == 0) c = r.nextLong(nCust)
        val od = day0 + r.nextInt(2400)
        val lines = 1 + r.nextInt(7)
        var total = 0L
        var l = 1
        while (l <= lines) {
          val qty = 1 + r.nextInt(50)
          val price = qty * r.nextLong(90000L, 200000L) / 100
          total += price
          sb.setLength(0)
          sb.append("{\"l_orderkey\":").append(o).append(",\"l_partkey\":").append(r.nextInt(200000))
            .append(",\"l_suppkey\":").append(r.nextInt(10000)).append(",\"l_linenumber\":").append(l)
            .append(",\"l_quantity\":").append(qty).append(".0,\"l_extendedprice\":")
          money(sb, price)
          sb.append(",\"l_discount\":0.0").append(r.nextInt(10)).append(",\"l_tax\":0.0").append(r.nextInt(9))
            .append(",\"l_returnflag\":\"").append("ARN".charAt(r.nextInt(3)))
            .append("\",\"l_linestatus\":\"").append("OF".charAt(r.nextInt(2)))
            .append("\",\"l_shipdate\":\"").append(date(od + 1 + r.nextInt(120))).append("\"}\n")
          liW((nLine % parts).toInt).append(sb)
          nLine += 1
          l += 1
        }
        sb.setLength(0)
        sb.append("{\"o_orderkey\":").append(o).append(",\"o_custkey\":").append(c)
          .append(",\"o_orderstatus\":\"").append("FOP".charAt(r.nextInt(3))).append("\",\"o_totalprice\":")
        money(sb, total)
        sb.append(",\"o_orderdate\":\"").append(date(od)).append("\",\"o_orderpriority\":\"")
          .append(priorities(r.nextInt(5))).append("\"}\n")
        ordW((o % parts).toInt).append(sb)
        o += 1
      }
    } finally (ordW ++ liW).foreach(_.close())
    TpchRows(25, nCust, nOrd, nLine)
  }

  // -------------------------------------------------------------- corpus_build

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** A generated corpus and what the generator planted in it.
    * `exactOf(i)` / `nearOf(i)` name the earlier document doc `i` was
    * copied from (verbatim, or with a few words replaced). */
  final case class Corpus(docs: Array[Doc], exactOf: Map[Long, Long], nearOf: Map[Long, Long],
      exactShare: Double, nearShare: Double, lowQualityShare: Double, minNearJaccard: Double)

  private val stop = Array("the", "a", "an", "of", "and", "to", "in", "is", "on", "for",
    "with", "at", "by", "from", "it", "that", "this", "be", "are", "as")

  private def shingles(ws: Array[String], n: Int): Set[String] =
    if (ws.length < n) Set.empty else ws.sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val (x, y) = (shingles(a, 3), shingles(b, 3))
    if (x.isEmpty && y.isEmpty) 1.0 else x.intersect(y).size.toDouble / x.union(y).size
  }

  /** A corpus of `n` documents over a 6,000-word vocabulary with a
    * skewed word frequency and a fifth of the tokens English
    * stopwords. About `exactFrac` of the documents are verbatim copies
    * of an earlier one, `nearFrac` are copies of an earlier long
    * document with one or two words replaced (kept only when their
    * 3-word-shingle Jaccard to the source is at least 0.9, far above
    * the 0.8 dedup threshold, so MinHash LSH finds them with near
    * certainty), and ~8 % fail the quality gate (too short or
    * repetitive). The shares are measured on the output, not assumed. */
  def corpus(seed: Long, n: Int): Corpus = {
    val (exactFrac, nearFrac) = (0.12, 0.10)
    val r = new SplittableRandom(seed ^ 0x5eedc0de)
    val syll = Array("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "de", "po", "ze", "qu",
      "an", "el", "or", "ix", "ba", "fu", "go", "hy")
    val vocab = Array.tabulate(6000) { i =>
      val sb = new StringBuilder
      var k = i
      do { sb.append(syll(k % syll.length)); k /= syll.length } while (k > 0)
      sb.append(syll((i * 7) % syll.length)).toString
    }
    def word(): String =
      if (r.nextInt(5) == 0) stop(r.nextInt(stop.length))
      else { val u = r.nextDouble(); vocab((u * u * vocab.length).toInt) }
    val langs = Array("en", "en", "es", "zh", "de")
    val docs = new Array[Doc](n)
    val words = new Array[Array[String]](n)
    val exactOf = mutable.Map.empty[Long, Long]
    val nearOf = mutable.Map.empty[Long, Long]
    var lowQ = 0
    var minJ = 1.0
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      val ws: Array[String] =
        if (i > 50 && u < exactFrac) {
          val src = r.nextInt(i)
          exactOf(i.toLong) = exactOf.getOrElse(src.toLong, src.toLong)
          words(src)
        } else if (i > 50 && u < exactFrac + nearFrac && {
            // find a long enough earlier doc to edit
            val src = r.nextInt(i)
            if (words(src).length >= 60 && !nearOf.contains(src.toLong)) {
              val w = words(src).clone()
              val edits = 1 + r.nextInt(2)
              (0 until edits).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
              val j = jaccard(words(src), w)
              if (j >= 0.9 && j < 1.0) {
                nearOf(i.toLong) = src.toLong
                minJ = math.min(minJ, j)
                words(i) = w
                true
              } else false
            } else false
          }) words(i)
        else if (u > 0.96) { lowQ += 1; Array.fill(5 + r.nextInt(12))(word()) } // too short
        else if (u > 0.92) { // repetitive: one phrase over and over
          lowQ += 1
          val ph = Array.fill(3)(word())
          Array.tabulate(30 + r.nextInt(60))(k => ph(k % 3))
        } else Array.fill(20 + r.nextInt(160))(word())
      words(i) = ws
      val text = ws.mkString(" ")
      docs(i) = Doc(i.toLong, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(8)}", text.length.toLong)
      i += 1
    }
    // measured shares: a doc is an exact duplicate when its text
    // already occurred; a near duplicate when it is a planted edit
    // whose text never occurred before
    val seen = mutable.HashSet.empty[String]
    var nExact = 0
    docs.foreach(d => if (!seen.add(d.text)) nExact += 1)
    Corpus(docs, exactOf.toMap, nearOf.toMap, nExact.toDouble / n, nearOf.size.toDouble / n,
      lowQ.toDouble / n, if (nearOf.isEmpty) 0.0 else minJ)
  }

  // ------------------------------------------------------------- table_upkeep

  /** Share of the live keys one change batch touches. */
  val BatchShare = 0.01

  /** One row of the served orders table; change rows share its shape. */
  final case class Order(o_orderkey: Long, o_custkey: Long, o_status: String,
      o_price_cents: Long, o_priority: String, version: Long)

  /** A change row with its CDC op marker, "U" or "D". */
  final case class CdcRow(o_orderkey: Long, o_custkey: Long, o_status: String,
      o_price_cents: Long, o_priority: String, version: Long, _op: String)

  final case class Batch(kind: String, rows: Seq[Order], ops: Seq[String]) {
    def changedKeys: Int = rows.map(_.o_orderkey).distinct.size
  }

  /** The change-batch log for `table_upkeep`: a base table of
    * `baseRows` orders, then per op a batch touching ~1 % of the live
    * keys. Versions only grow, so replaying the log by "highest
    * version per key wins, a delete removes the key" gives the table
    * every sink should leave. The generator tracks the live key set
    * itself, so updates and deletes always name live keys and inserts
    * always name new ones. */
  final class ChangeLog(seed: Long, baseRows: Int) {
    private val r = new SplittableRandom(seed ^ 0xc0ffeeL)
    private val live = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    private var nextKey = 0L
    private var seq = 0L

    private def add(k: Long): Unit = { pos(k) = live.size; live += k }
    private def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val last = live.remove(live.size - 1)
      if (last != k) { live(i) = last; pos(last) = i }
    }
    private def row(k: Long, v: Long) = Order(k, r.nextLong(100000L),
      "FOP".substring(r.nextInt(3)).take(1), r.nextLong(100L, 50000000L), priorities(r.nextInt(5)), v)

    val base: Seq[Order] = (0 until baseRows).map { _ =>
      val k = nextKey; nextKey += 1 + r.nextInt(2); add(k); row(k, 0L)
    }

    /** Distinct live keys, drawn without replacement. */
    private def pick(n: Int): Seq[Long] = {
      val got = mutable.LinkedHashSet.empty[Long]
      while (got.size < math.min(n, live.size)) got += live(r.nextInt(live.size))
      got.toSeq
    }

    /** The next batch for an op of `kind`: "upsert" (updates +
      * inserts), "cdc" (updates, deletes, inserts, each key once), or
      * "versioned" (updates + inserts, plus repeated keys carrying an
      * older version that must lose). */
    def next(kind: String): Batch = {
      seq += 1
      val n = math.max(4, (live.size * BatchShare).round.toInt)
      var ord = 0L
      def v(): Long = { ord += 1; (seq << 20) + (1L << 19) + ord }
      val nIns = n / 5
      val nDel = if (kind == "cdc") n / 5 else 0
      val touched = pick(n - nIns)
      val (dels, ups) = touched.splitAt(nDel)
      val ins = (0 until nIns).map { _ => val k = nextKey; nextKey += 1 + r.nextInt(2); k }
      val main = (ups ++ ins).map(k => row(k, v()))
      val delRows = dels.map(k => row(k, v()))
      val stale =
        if (kind == "versioned")
          main.filter(_ => r.nextInt(6) == 0).map(o => row(o.o_orderkey, o.version - (1L << 18)))
        else Nil
      dels.foreach(remove); ins.foreach(add)
      val rows = main ++ stale ++ delRows
      val ops = Seq.fill(main.size + stale.size)("U") ++ Seq.fill(delRows.size)("D")
      // shuffle so stale rows and deletes are not grouped at the end
      val order = (0 until rows.size).toArray
      var k = order.length - 1
      while (k > 0) { val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t; k -= 1 }
      Batch(kind, order.toSeq.map(rows), order.toSeq.map(ops))
    }
  }
}
