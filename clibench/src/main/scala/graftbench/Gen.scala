package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Seeded, TPC-H-shaped input generator. Key layout and value domains
  * follow the TPC-H orders/lineitem tables (sparse order keys, 1-7
  * lines per order, five priorities); each workload sets the sizes.
  * The same seed always yields the same rows. Everything here is plain JVM
  * code: the engine only ever sees the files written from it. */
object Gen {
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Array("F", "O", "P")
  private val ShipModes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Words = Array("final", "ironic", "pending", "express", "quick",
    "careful", "regular", "bold", "silent", "even", "deposits", "accounts",
    "packages", "requests", "foxes", "ideas", "theodolites", "pinto", "beans")

  /** TPC-H order keys: 8 used out of every 32. */
  def orderKey(i: Long): Long = (i / 8) * 32 + (i % 8) + 1

  def money(cents: Long): String = f"${cents / 100}%d.${cents % 100}%02d"

  private def date(r: scala.util.Random): String =
    java.time.LocalDate.ofEpochDay(8035 + r.nextInt(2400)).toString // 1992-01-01 +

  private def comment(r: scala.util.Random, maxLen: Int): String = {
    val sb = new StringBuilder
    while (sb.length < 10 + r.nextInt(maxLen - 10)) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words(r.nextInt(Words.length)))
    }
    sb.toString.take(maxLen)
  }

  val OrderCols: Seq[(String, String, Option[String])] = Seq(
    ("o_orderkey", "bigint", None), ("o_custkey", "bigint", None),
    ("o_orderstatus", "varchar", Some("1")), ("o_totalprice", "decimal", Some("12,2")),
    ("o_orderdate", "date", None), ("o_orderpriority", "varchar", Some("15")),
    ("o_clerk", "varchar", Some("15")), ("o_shippriority", "int", None),
    ("o_comment", "varchar", Some("79")))

  val LineCols: Seq[(String, String, Option[String])] = Seq(
    ("l_orderkey", "bigint", None), ("l_linenumber", "int", None),
    ("l_partkey", "bigint", None), ("l_suppkey", "bigint", None),
    ("l_quantity", "decimal", Some("12,2")), ("l_extendedprice", "decimal", Some("12,2")),
    ("l_discount", "decimal", Some("4,2")), ("l_tax", "decimal", Some("4,2")),
    ("l_returnflag", "varchar", Some("1")), ("l_linestatus", "varchar", Some("1")),
    ("l_shipdate", "date", None), ("l_shipmode", "varchar", Some("10")),
    ("l_comment", "varchar", Some("44")))

  def orderRow(r: scala.util.Random, key: Long, nCust: Int): Array[String] = Array(
    key.toString, (1 + r.nextInt(nCust)).toString,
    Statuses(r.nextInt(3)), money(90000 + r.nextInt(50000000)), date(r),
    Priorities(r.nextInt(5)), f"Clerk#${1 + r.nextInt(1000)}%09d", "0",
    comment(r, 79))

  def lineRow(r: scala.util.Random, key: Long, line: Int): Array[String] = {
    val qty = 1 + r.nextInt(50)
    Array(key.toString, line.toString, (1 + r.nextInt(20000)).toString,
      (1 + r.nextInt(1000)).toString, money(qty * 100L),
      money(qty.toLong * (90000 + r.nextInt(20000))), money(r.nextInt(11)),
      money(r.nextInt(9)), "ANR"(r.nextInt(3)).toString,
      "OF"(r.nextInt(2)).toString, date(r), ShipModes(r.nextInt(7)),
      comment(r, 44))
  }

  /** Lines per order, 1-7 as in TPC-H. */
  def linesPerOrder(r: scala.util.Random): Int = 1 + r.nextInt(7)

  /** Write a header + rows CSV; returns the bytes written. */
  def writeCsv(f: File, header: Seq[String], rows: Iterator[Array[String]]): Long = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { row => w.write(row.mkString(",")); w.write('\n') }
    } finally w.close()
    f.length
  }

  /** One event of the I/U/D change stream over order keys. */
  final case class Change(key: Long, prio: String, status: String,
                          priceCents: Long, cust: Long, seq: Long, op: String)

  /** A lineitem row of a newly inserted order (the join view's B side). */
  final case class Line(key: Long, line: Int, qty: Int, extCents: Long)

  /** The seeded change stream: batch 0 inserts every base order;
    * batches 1..n each carry `inserts` new keys (I), `updates` moves of
    * live keys to new attribute values (U) and `deletes` of live keys
    * (D), at most one event per key per batch. Every inserted order has
    * 1-7 lines. */
  final class ChangeStream(seed: Long, baseOrders: Int, batches: Int,
                           inserts: Int, updates: Int, deletes: Int) {
    val nCust: Int = math.max(100, baseOrders / 10)
    val events: Array[Array[Change]] = new Array(batches + 1)
    val lines: Array[Array[Line]] = new Array(batches + 1)

    locally {
      val r = new scala.util.Random(seed * 7919 + 17)
      val live = mutable.ArrayBuffer.empty[Long]
      val livePos = mutable.HashMap.empty[Long, Int]
      var next = 0L
      var seq = 0L
      def ins(): (Change, Seq[Line]) = {
        val k = orderKey(next); next += 1
        seq += 1
        livePos(k) = live.length; live += k
        val ls = (1 to linesPerOrder(r)).map { n =>
          val q = 1 + r.nextInt(50)
          Line(k, n, q, q.toLong * (90000 + r.nextInt(20000)))
        }
        (Change(k, Priorities(r.nextInt(5)), Statuses(r.nextInt(3)),
          90000 + r.nextInt(50000000), 1 + r.nextInt(nCust), seq, "I"), ls)
      }
      def remove(k: Long): Unit = {
        val p = livePos.remove(k).get
        val last = live.remove(live.length - 1)
        if (last != k) { live(p) = last; livePos(last) = p }
      }
      val base = (0 until baseOrders).map(_ => ins())
      events(0) = base.map(_._1).toArray
      lines(0) = base.flatMap(_._2).toArray
      (1 to batches).foreach { b =>
        val touched = mutable.HashSet.empty[Long]
        val ev = mutable.ArrayBuffer.empty[Change]
        val ls = mutable.ArrayBuffer.empty[Line]
        def pickLive(): Long = {
          var k = live(r.nextInt(live.length))
          while (touched(k)) k = live(r.nextInt(live.length))
          touched += k; k
        }
        (0 until updates).foreach { _ =>
          val k = pickLive(); seq += 1
          ev += Change(k, Priorities(r.nextInt(5)), Statuses(r.nextInt(3)),
            90000 + r.nextInt(50000000), 1 + r.nextInt(nCust), seq, "U")
        }
        (0 until deletes).foreach { _ =>
          val k = pickLive(); seq += 1
          ev += Change(k, Priorities(r.nextInt(5)), Statuses(r.nextInt(3)),
            90000 + r.nextInt(50000000), 1 + r.nextInt(nCust), seq, "D")
          remove(k)
        }
        (0 until inserts).foreach { _ =>
          val (c, l) = ins(); touched += c.key; ev += c; ls ++= l
        }
        events(b) = ev.toArray
        lines(b) = ls.toArray
      }
    }

    /** Current images (key -> last I/U event) after batches 0..upTo. */
    def imagesAt(upTo: Int): mutable.HashMap[Long, Change] = {
      val m = mutable.HashMap.empty[Long, Change]
      (0 to upTo).foreach(b => events(b).foreach { e =>
        if (e.op == "D") m.remove(e.key) else m(e.key) = e
      })
      m
    }

    /** Writes `<dir>/cdc`, `<dir>/joinA`, `<dir>/joinB`: one parquet
      * file per batch under `b=<id>`; a fold reads one `b=<id>` dir.
      * Returns (rows, bytes). */
    def writeParquet(dir: File, upTo: Int): (Long, Long) = {
      var n = 0L
      (0 to upTo).foreach { b =>
        def file(ds: String) = new File(dir, s"$ds/b=$b/part-0.parquet")
        n += writeParquetFile(file("cdc"), CdcSchema, events(b).iterator.map(e =>
          Seq(e.key, e.prio, e.status, e.priceCents, e.cust, e.seq, e.op)))
        n += writeParquetFile(file("joinA"), JoinASchema, events(b).iterator
          .filter(_.op == "I").map(e => Seq(e.key, e.cust, e.priceCents)))
        n += writeParquetFile(file("joinB"), JoinBSchema, lines(b).iterator.map(l =>
          Seq(l.key, l.line, l.qty * 100L, l.extCents)))
      }
      (n, Disk.bytesUnder(dir))
    }
  }

  val CdcSchema = """message cdc { required int64 o_orderkey;
    required binary o_orderpriority (STRING); required binary o_orderstatus (STRING);
    required int64 o_totalprice (DECIMAL(12,2)); required int64 o_custkey;
    required int64 seq; required binary op (STRING); }"""
  val JoinASchema = """message a { required int64 o_orderkey; required int64 o_custkey;
    required int64 o_totalprice (DECIMAL(12,2)); }"""
  val JoinBSchema = """message b { required int64 o_orderkey; required int32 l_linenumber;
    required int64 l_quantity (DECIMAL(12,2)); required int64 l_extendedprice (DECIMAL(12,2)); }"""

  /** Writes one parquet file straight from the JVM (no Spark job).
    * Decimals are given as unscaled longs. Returns the rows written. */
  def writeParquetFile(f: File, schema: String, rows: Iterator[Seq[Any]]): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    val t = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val names = (0 until t.getFieldCount).map(t.getFieldName)
    val int32 = names.filter(c => t.getType(t.getFieldIndex(c)).asPrimitiveType.getPrimitiveTypeName ==
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32).toSet
    val groups = new SimpleGroupFactory(t)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f.getPath))
      .withType(t).withConf(new org.apache.hadoop.conf.Configuration()).build()
    var n = 0L
    try rows.foreach { row =>
      val g = groups.newGroup()
      names.zip(row).foreach {
        case (c, v: String) => g.add(c, Binary.fromString(v))
        case (c, v: Number) if int32(c) => g.add(c, v.intValue)
        case (c, v: Number) => g.add(c, v.longValue)
        case (c, v) => throw new IllegalArgumentException(s"$c: $v")
      }
      w.write(g); n += 1
    } finally w.close()
    n
  }
}
