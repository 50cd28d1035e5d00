package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine CLI call: `config` is written to `dataDir/config.json`
  * before the operation's clock starts; `sinkRoot` is the ParquetSink
  * base the `run` action writes tables under. */
final case class Call(dataDir: File, sinkRoot: File, config: String)

/** A workload: seeded inputs, a state built in setup, and a sequence of
  * operations, each one or more CLI calls timed together. Operation `i`
  * always consumes input `i`, so the expected result after any number
  * of operations follows from the generator record alone. */
trait Workload {
  def name: String
  /** Operations run before the clock, after the state is prepared. */
  def warmup: Int
  /** The first timed operations, which op_p50_s and op_tail_s are taken
    * over. The loop runs them all, past `--seconds` if need be. */
  def statOps: Int
  /** Inputs to generate for a run of `seconds`: generous, so that a
    * faster engine still finds inputs for the whole loop. */
  def maxOps(seconds: Int): Int
  /** Write the inputs for `ops` operations; returns (rows, bytes). */
  def generate(seed: Long, ops: Int): (Long, Long)
  /** The calls that build the initial state under `root`. */
  def prepare(root: File): Seq[Call]
  def calls(root: File, i: Int): Seq[Call]
  /** Input rows operation `i` consumed. */
  def rows(i: Int): Long
  /** A path-independent digest of the state under `root`. */
  def digest(spark: SparkSession, root: File): String
  /** Checks the state after operations 0 until `done` against the
    * generator record. */
  def verify(spark: SparkSession, root: File, done: Int): Verdict
}

/** What the check found, and the live rows the state serves. */
final case class Verdict(mismatches: Seq[String], liveRows: Long)

object Workload {
  def apply(name: String, dir: File): Workload = name match {
    case "load_upsert" => new LoadUpsert(dir)
    case "view_fold" => new ViewFold(dir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Canonical row strings and an order-independent 64-bit digest. */
object Canon {
  def num(x: Any): String = x match {
    case null => "null"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case o => new java.math.BigDecimal(o.toString).stripTrailingZeros.toPlainString
  }

  /** A money amount given in cents, canonical. */
  def cents(c: Long): String = num(java.math.BigDecimal.valueOf(c, 2))

  def rowHash(s: String): Long =
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x2f1e).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x7a3c).toLong & 0xffffffffL)

  def digest(rows: Iterable[String]): String = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(r))
    f"${rows.size}%d:$sum%016x"
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Rows of `df` rendered column by column (numbers canonical). */
  def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(org.apache.spark.sql.functions.col): _*).collect().toSeq.map { r =>
      cols.indices.map { i =>
        r.get(i) match {
          case s: String => s
          case null => "null"
          case d: java.sql.Date => d.toString
          case d: java.time.LocalDate => d.toString
          case o => num(o)
        }
      }.mkString("|")
    }
}

/** `run` loads: full replace of an orders-shaped table plus a stage-wins
  * upsert of a lineitem-shaped increment, per operation.
  *
  * Sizes: each increment is 1/13 of the lineitem target, the stage of
  * the `upsert_merge_composite` gate query (lineitem rows with
  * `l_orderkey % 13 = 0`, upserted on the same composite key). That
  * stage holds updates only; the 5 % of new keys here are a chosen
  * small share (the target grows well under a tenth over a run), not
  * recorded traffic. The tables are a third of sf0.1 (orders 150 000,
  * lineitem ~600 000), a size set by the run's time budget, not taken
  * from recorded loads. */
final class LoadUpsert(dir: File) extends Workload {
  val name = "load_upsert"
  // upserts keep speeding up for ~30 s of work (JIT); single upserts
  // vary by ±10 %, so the statistics take six
  val warmup = 4
  val statOps = 6
  def maxOps(seconds: Int): Int = warmup + statOps + seconds
  private val Orders = 50000
  private val StageShare = 13 // one increment = target rows / 13
  private val NewPercent = 5
  private val Variants = 2
  private var incRows = 0
  private val in = new File(dir, "in")
  private def csv(id: String) = new File(in, s"in/tables/$id.csv")
  private def incId(i: Int) = f"lineitem_inc_$i%04d"

  def generate(seed: Long, ops: Int): (Long, Long) = {
    val nCust = Orders / 10
    var bytes = 0L; var rows = 0L
    (0 until Variants).foreach { v =>
      val r = new scala.util.Random(seed * 31 + v)
      bytes += Gen.writeCsv(csv(s"orders_v$v"), Gen.OrderCols.map(_._1),
        (0 until Orders).iterator.map(i => Gen.orderRow(r, Gen.orderKey(i), nCust)))
      rows += Orders
    }
    val r = new scala.util.Random(seed * 131 + 7)
    val pks = mutable.ArrayBuffer.empty[(Long, Int)]
    bytes += Gen.writeCsv(csv("lineitem_base"), Gen.LineCols.map(_._1),
      (0 until Orders).iterator.flatMap { i =>
        val k = Gen.orderKey(i)
        (1 to Gen.linesPerOrder(r)).map { n => pks += ((k, n)); Gen.lineRow(r, k, n) }
      })
    rows += pks.length
    incRows = pks.length / StageShare
    val newRows = incRows * NewPercent / 100
    var nextOrder = Orders.toLong
    (0 until ops).foreach { j =>
      val taken = mutable.HashSet.empty[(Long, Int)]
      val out = mutable.ArrayBuffer.empty[Array[String]]
      while (out.length < newRows) {
        val k = Gen.orderKey(nextOrder); nextOrder += 1
        (1 to math.min(Gen.linesPerOrder(r), newRows - out.length)).foreach { n =>
          out += Gen.lineRow(r, k, n); taken += ((k, n))
        }
      }
      val existing = pks.length
      taken.foreach(pks += _)
      while (out.length < incRows) {
        val pk = pks(r.nextInt(existing))
        if (taken.add(pk)) out += Gen.lineRow(r, pk._1, pk._2)
      }
      bytes += Gen.writeCsv(csv(incId(j)), Gen.LineCols.map(_._1), out.iterator)
      rows += out.length
    }
    (rows, bytes)
  }

  private def items(cols: Seq[(String, String, Option[String])]) =
    cols.map { case (n, t, s) =>
      s"""{"name":${Canon.q(n)},"dbName":${Canon.q(n)},"type":${Canon.q(t)}""" +
        s.map(x => s""","size":${Canon.q(x)}""").getOrElse("") + "}"
    }.mkString("[", ",", "]")

  private def config(ordersVariant: Int, lineTable: String, incremental: Boolean) =
    s"""{"action":"run","parameters":{"tables":[""" +
      s"""{"tableId":"orders_v$ordersVariant","dbName":"orders","incremental":false,""" +
      s""""items":${items(Gen.OrderCols)}},""" +
      s"""{"tableId":"$lineTable","dbName":"lineitem","incremental":$incremental,""" +
      s""""primaryKey":["l_orderkey","l_linenumber"],"items":${items(Gen.LineCols)}}]}}"""

  def prepare(root: File): Seq[Call] =
    Seq(Call(in, root, config(0, "lineitem_base", incremental = false)))

  def calls(root: File, i: Int): Seq[Call] =
    Seq(Call(in, root, config((i + 1) % Variants, incId(i), incremental = true)))

  def rows(i: Int): Long = Orders + incRows

  private def canonCsv(cols: Seq[(String, String, Option[String])], f: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(csv(f), "UTF-8")
    try src.getLines().drop(1).map { line =>
      line.split(",", -1).zip(cols).map { case (v, (_, t, _)) =>
        if (t == "decimal" || t == "bigint" || t == "int") Canon.num(v) else v
      }
    }.toVector finally src.close()
  }

  private def tables(spark: SparkSession, root: File): (Seq[String], Seq[String]) = {
    def read(t: String, cols: Seq[(String, String, Option[String])]) =
      Canon.rows(spark.read.parquet(new File(root, t).getPath), cols.map(_._1))
    (read("orders", Gen.OrderCols), read("lineitem", Gen.LineCols))
  }

  def digest(spark: SparkSession, root: File): String = {
    val (o, l) = tables(spark, root)
    s"${Canon.digest(o)} ${Canon.digest(l)}"
  }

  def verify(spark: SparkSession, root: File, done: Int): Verdict = {
    val (o, l) = tables(spark, root)
    val wantOrders = canonCsv(Gen.OrderCols, s"orders_v${done % Variants}").map(_.mkString("|"))
    val image = mutable.HashMap.empty[(String, String), String]
    ("lineitem_base" +: (0 until done).map(incId)).foreach { f =>
      canonCsv(Gen.LineCols, f).foreach(r => image((r(0), r(1))) = r.mkString("|"))
    }
    Verdict(Seq("orders" -> (o, wantOrders), "lineitem" -> (l, image.values.toSeq)).collect {
      case (t, (got, want)) if Canon.digest(got) != Canon.digest(want) =>
        s"$name: table $t is ${Canon.digest(got)}, the stage-wins image is ${Canon.digest(want)}"
    }, o.size + l.size)
  }
}

/** `maintainView` folds: each operation folds one batch of a seeded
  * I/U/D change stream over order keys into a cdcRollup (with one aux
  * view), a bucketed rollup and a join view.
  *
  * Traffic: the shape of the three folds of the `cdc_rollup_view` gate
  * query, the one fold traffic recorded in the repo. The gate folds
  * the `o_orderkey % 8 = 0` slice of sf0.1 orders (18 750 keys) in
  * three batches: a third of the slice inserted per batch, the
  * `% 21` keys updated in batch 1 and the `% 5` keys of the first two
  * thirds deleted in batch 2. Here batch 0 (folded in set-up) is the
  * gate's batch 0, 6 250 inserts, and every later batch carries the
  * gate's mean load of batches 1 and 2: 6 250 inserts, 446 updates and
  * 1 250 deletes of live keys. */
final class ViewFold(dir: File) extends Workload {
  val name = "view_fold"
  // no warm-up: the first fold into an existing state runs ~15 % slower
  // than later ones, and op_tail_s shows it
  val warmup = 0
  val statOps = 2
  def maxOps(seconds: Int): Int = warmup + statOps + seconds / 2
  private val BaseOrders = 6250
  private val Inserts = 6250
  private val Updates = 446
  private val Deletes = 1250
  private val in = new File(dir, "in")
  private var stream: Gen.ChangeStream = _

  def generate(seed: Long, ops: Int): (Long, Long) = {
    stream = new Gen.ChangeStream(seed, BaseOrders, ops, Inserts, Updates, Deletes)
    stream.writeParquet(in, ops)
  }

  private def cfg(kind: String): File = new File(dir, s"cfg/$kind")

  private def fold(root: File, b: Int): Seq[Call] = Seq(
    Call(cfg("cdc"), root,
      s"""{"action":"maintainView","parameters":{"view":{"kind":"cdcRollup",""" +
        s""""statePath":${Canon.q(new File(root, "cdc").getPath)},"batchId":$b,""" +
        s""""keyColumns":["o_orderkey"],"seqColumn":"seq","opColumn":"op",""" +
        s""""keys":["o_orderpriority"],"valueColumns":["o_totalprice","o_custkey"],""" +
        s""""auxViews":{"by_status":["o_orderstatus"]},"nBaseBuckets":8,"nAggBuckets":4,""" +
        s""""delta":{"input":${Canon.q(s"${in.getPath}/cdc/b=$b")}}}}}"""),
    Call(cfg("rollup"), root,
      s"""{"action":"maintainView","parameters":{"view":{"kind":"rollup",""" +
        s""""statePath":${Canon.q(new File(root, "rollup").getPath)},"batchId":$b,""" +
        s""""keys":["o_custkey"],"valueColumn":"o_totalprice","nBuckets":8,""" +
        s""""delta":{"input":${Canon.q(s"${in.getPath}/cdc/b=$b")}}}}}"""),
    Call(cfg("join"), root,
      s"""{"action":"maintainView","parameters":{"view":{"kind":"join",""" +
        s""""statePath":${Canon.q(new File(root, "join").getPath)},"batchId":$b,""" +
        s""""key":"o_orderkey","nBuckets":8,""" +
        s""""deltaA":{"input":${Canon.q(s"${in.getPath}/joinA/b=$b")}},""" +
        s""""deltaB":{"input":${Canon.q(s"${in.getPath}/joinB/b=$b")}}}}}"""))

  def prepare(root: File): Seq[Call] = fold(root, 0)
  def calls(root: File, i: Int): Seq[Call] = fold(root, i + 1)
  def rows(i: Int): Long = stream.events(i + 1).length

  private val JoinCols = Seq("o_orderkey", "o_custkey", "o_totalprice",
    "l_linenumber", "l_quantity", "l_extendedprice")

  /** Per-group (n, Σ price, Σ custkey) over the images after batch `b`. */
  private def groups(b: Int, byStatus: Boolean): Map[String, String] =
    stream.imagesAt(b).values.groupBy(e => if (byStatus) e.status else e.prio)
      .map { case (g, es) =>
        g -> Seq(es.size.toString, Canon.cents(es.map(_.priceCents).sum),
          es.map(_.cust).sum.toString).mkString("|")
      }

  private def viewRows(df: DataFrame, group: String): Map[String, String] =
    Canon.rows(df, Seq(group, "n", "total_1", "total_2"))
      .map(r => r.takeWhile(_ != '|') -> r.dropWhile(_ != '|').drop(1)).toMap

  private def views(spark: SparkSession, root: File) = {
    val cdc = new File(root, "cdc").getPath
    val state = spark.read.parquet(new File(root, "rollup/state").getPath)
    (viewRows(graft.operators.CdcRollup.readView(spark, cdc).get, "o_orderpriority"),
      viewRows(graft.operators.CdcRollup.readAuxView(spark, cdc, "by_status").get, "o_orderstatus"),
      Canon.rows(state, Seq("o_custkey", "agg_count", "agg_sum", "agg_min", "agg_max")),
      Canon.rows(graft.operators.JoinView.readCommittedView(spark,
        new File(root, "join").getPath).get, JoinCols))
  }

  def digest(spark: SparkSession, root: File): String = {
    val (v, a, r, j) = views(spark, root)
    Seq(Canon.digest(v.map(x => s"${x._1}|${x._2}")), Canon.digest(a.map(x => s"${x._1}|${x._2}")),
      Canon.digest(r), Canon.digest(j)).mkString(" ")
  }

  def verify(spark: SparkSession, root: File, done: Int): Verdict = {
    val (v, a, r, j) = views(spark, root)
    val events = (0 to done).flatMap(b => stream.events(b))
    val rollup = events.groupBy(_.cust).map { case (c, es) =>
      s"$c|${es.size}|${Canon.cents(es.map(_.priceCents).sum)}|" +
        s"${Canon.cents(es.map(_.priceCents).min)}|${Canon.cents(es.map(_.priceCents).max)}"
    }
    val join = (0 to done).flatMap { b =>
      val inserted = stream.events(b).filter(_.op == "I").map(e => e.key -> e).toMap
      stream.lines(b).map { l =>
        val e = inserted(l.key)
        Seq(l.key.toString, e.cust.toString, Canon.cents(e.priceCents),
          l.line.toString, l.qty.toString, Canon.cents(l.extCents)).mkString("|")
      }
    }
    Verdict(Seq(
      ("cdcRollup view", v == groups(done, byStatus = false), s"$v"),
      ("cdcRollup aux view", a == groups(done, byStatus = true), s"$a"),
      ("rollup view", Canon.digest(r) == Canon.digest(rollup), Canon.digest(r)),
      ("join view", Canon.digest(j) == Canon.digest(join), Canon.digest(j))
    ).collect { case (what, false, got) =>
      s"$name: the $what after batch $done differs from the one-shot result over the final images (got $got)"
    }, stream.imagesAt(done).size + r.size + j.size)
  }
}
