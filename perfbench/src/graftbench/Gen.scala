package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Same seed → byte-identical inputs (for the
  * Spark-built lake tables: identical row content); a different seed →
  * different inputs. The program only ever sees what these produce.
  */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 1L)

  // ------------------------------------------------------------ ingest ----

  /** Stock symbols: FAX (dropped by the row script) and AXN (flagged by
    * the DQ row rule) plus generated 3-4 letter names.
    */
  val symbols: IndexedSeq[String] = {
    val gen = (0 until 400).map { i =>
      val a = ('A' + i % 26).toChar
      val b = ('A' + (i / 26) % 26).toChar
      val c = ('A' + (i * 7 + 3) % 26).toChar
      s"Q$a$b$c"
    }.distinct
    IndexedSeq("FAX", "AXN") ++ gen.take(238)
  }
  val dates: IndexedSeq[String] = (1 to 8).map(d => f"2017-01-$d%02d")

  final case class StockRow(symbol: String, date: String, open: String, high: String,
      low: String, close: String, volume: String, adjClose: String) {
    def csv: String = Seq(symbol, date, open, high, low, close, volume, adjClose).mkString(",")
  }

  val ingestHeader = "symbol,date,open,high,low,close,volume,adj_close"

  /** One stock_price CSV: `rows` distinct (symbol, date) keys drawn from the
    * bounded domain (so the table levels off), FAX rows on every date,
    * ~3% rows with an empty `open` cell (a DQ regex violation), and ~3%
    * exact duplicate lines.
    */
  def stockFile(seed: Long, fileNo: Int, rows: Int): Seq[StockRow] = {
    val r = rng(seed, 1000L + fileNo)
    def price(): String = s"${1 + r.nextInt(499)}.${f"${r.nextInt(100)}%02d"}"
    val keys = mutable.LinkedHashSet.empty[(String, String)]
    dates.foreach(d => keys += (("FAX", d)))
    while (keys.size < rows)
      keys += ((symbols(1 + r.nextInt(symbols.size - 1)), dates(r.nextInt(dates.size))))
    val base = keys.toVector.map { case (s, d) =>
      val open = if (r.nextInt(100) < 3) "" else price()
      StockRow(s, d, open, price(), price(), price(), r.nextInt(5000000).toString, price())
    }
    val withDups = base.flatMap(row => if (r.nextInt(100) < 3) Seq(row, row) else Seq(row))
    shuffle(withDups, r)
  }

  def stockCsv(rows: Seq[StockRow]): String =
    (ingestHeader +: rows.map(_.csv)).mkString("", "\n", "\n")

  // --------------------------------------------------------------- cdc ----

  final case class CdcEvent(op: String, id: Long, row: Option[CdcRow], before: Option[CdcRow],
      seq: Long)
  final case class CdcRow(id: Long, name: String, amt: Double, qty: Int, region: String) {
    def json: String =
      s"""{"id": $id, "name": "$name", "amt": $amt, "qty": $qty, "region": "$region"}"""
  }

  val cdcRegions = 8
  val cdcDomain = 4000
  def region(id: Long): String = s"r${id % cdcRegions}"

  private def cdcRow(r: SplittableRandom, id: Long): CdcRow =
    CdcRow(id, s"n${r.nextInt(100000)}", (r.nextInt(1000000) / 100.0), r.nextInt(1000), region(id))

  /** Initial CDC target image: half the key domain. */
  def cdcInitial(seed: Long): Seq[CdcRow] = {
    val r = rng(seed, 2000L)
    (1L to cdcDomain / 2).map(id => cdcRow(r, id))
  }

  /** `files` envelope files of `events` change events each: ~45% updates,
    * ~30% inserts, ~25% deletes, each file over keys of 2-3 regions.
    * Sequence numbers rise across files (arrival order).
    */
  def cdcFiles(seed: Long, files: Int, events: Int): Seq[Seq[CdcEvent]] = {
    val r = rng(seed, 3000L)
    val live = mutable.LinkedHashMap.empty[Long, CdcRow]
    cdcInitial(seed).foreach(row => live(row.id) = row)
    var seq = 1000L
    (0 until files).map { _ =>
      val regs = (0 until 2 + r.nextInt(2)).map(_ => r.nextInt(cdcRegions)).distinct
      def pickId(): Long =
        (1 + r.nextInt(cdcDomain / cdcRegions)).toLong * cdcRegions + regs(r.nextInt(regs.size))
      (0 until events).map { _ =>
        seq += 1
        val id = pickId()
        val roll = r.nextInt(100)
        live.get(id) match {
          case Some(old) if roll < 25 =>
            live.remove(id)
            CdcEvent("d", id, None, Some(old), seq)
          case Some(old) =>
            val row = cdcRow(r, id)
            live(id) = row
            CdcEvent("u", id, Some(row), Some(old), seq)
          case None =>
            val row = cdcRow(r, id)
            live(id) = row
            CdcEvent("c", id, Some(row), None, seq)
        }
      }
    }
  }

  def envelope(e: CdcEvent): String = {
    val before = e.before.map(_.json).getOrElse("null")
    val after = e.row.map(_.json).getOrElse("null")
    s"""{"payload": {"op": "${e.op}", "before": $before, "after": $after, """ +
      s""""source": {"db": "shop", "schema": "dbo", "table": "accounts"}, "ts_ms": ${e.seq}}}"""
  }

  // ------------------------------------------------------------- dedup ----

  final case class Doc(id: Long, tokens: IndexedSeq[String])

  /** Batch `b` of `size` docs: ids b*size until (b+1)*size; ~25% are
    * near-copies (about a tenth of the tokens replaced) of an earlier doc.
    */
  def dedupBatches(seed: Long, batches: Int, size: Int): Seq[Seq[Doc]] = {
    val r = rng(seed, 4000L)
    val vocab = 6000
    val all = mutable.ArrayBuffer.empty[Doc]
    (0 until batches).map { b =>
      (0 until size).map { i =>
        val id = b.toLong * size + i
        val doc =
          if (all.nonEmpty && r.nextInt(100) < 25) {
            val src = all(r.nextInt(all.size)).tokens
            Doc(id, src.map(t => if (r.nextInt(10) == 0) s"w${r.nextInt(vocab)}" else t))
          } else {
            val n = 40 + r.nextInt(41)
            Doc(id, (0 until n).map(_ => s"w${r.nextInt(vocab)}"))
          }
        all += doc
        doc
      }
    }
  }

  // ---------------------------------------------------------- lake_rw ----

  val nations: IndexedSeq[String] = IndexedSeq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  val segments: IndexedSeq[String] =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val priorities: IndexedSeq[String] =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val shipmodes: IndexedSeq[String] =
    IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")

  /** TPC-H-shaped tables at scale factor `sf` (sf 0.1: 600k lineitem rows),
    * every column a hash of (row id, seed, column salt).
    */
  def lakeTables(spark: SparkSession, seed: Long, sf: Double): Map[String, DataFrame] = {
    val nCust = (150000 * sf).toLong
    val nOrd = (1500000 * sf).toLong
    val nLine = nOrd * 4
    def h(salt: Int, m: Long) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(m))
    def pick(xs: IndexedSeq[String], salt: Int) =
      element_at(array(xs.map(lit): _*), (h(salt, xs.size.toLong) + 1).cast("int"))
    def money(salt: Int, max: Long) = (h(salt, max * 100) / 100).cast("decimal(12,2)")
    val nation = spark.createDataFrame(nations.zipWithIndex.map { case (n, i) =>
      (i, n, i % 5)
    }).toDF("n_nationkey", "n_name", "n_regionkey")
    val customer = spark.range(1, nCust + 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      h(11, 25).cast("int").as("c_nationkey"),
      pick(segments, 12).as("c_mktsegment"),
      money(13, 10000).as("c_acctbal"))
    val orders = spark.range(1, nOrd + 1).select(
      col("id").as("o_orderkey"),
      (h(21, nCust) + 1).as("o_custkey"),
      pick(IndexedSeq("F", "O", "P"), 22).as("o_orderstatus"),
      money(23, 500000).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), h(24, 2400).cast("int")).as("o_orderdate"),
      pick(priorities, 25).as("o_orderpriority"))
    val lineitem = spark.range(0, nLine).select(
      (col("id") / 4 + 1).cast("long").as("l_orderkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (h(31, 50) + 1).cast("int").as("l_quantity"),
      money(32, 100000).as("l_extendedprice"),
      (h(33, 11) / 100).cast("decimal(4,2)").as("l_discount"),
      pick(IndexedSeq("A", "N", "R"), 34).as("l_returnflag"),
      pick(IndexedSeq("F", "O"), 35).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), h(36, 2500).cast("int")).as("l_shipdate"),
      pick(shipmodes, 37).as("l_shipmode"))
    Map("nation" -> nation, "customer" -> customer, "orders" -> orders,
      "lineitem" -> lineitem)
  }

  private def shuffle[T](xs: Vector[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}
