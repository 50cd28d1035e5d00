package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Cross-check of the outside-in job attribution against a count taken
  * by hand before: the three folds of the `cdc_rollup_view` gate query
  * (graft.queries.RelationalQueries), replayed call for call on an
  * orders table of sf0.1 cardinality, ran 34 jobs in that profile
  * (OPTIMIZATION_r19.md). The state lives in the benchmark's own
  * directory instead of the query's fixed temporary path. */
object Gate {
  /** Operation ids at and above this are checks, not timed operations. */
  val FirstId = 10000000L
  val Recorded = 34

  /** An orders table of sf0.1 cardinality with the columns the gate reads. */
  def generate(seed: Long, dir: File): Unit = {
    val r = new scala.util.Random(seed * 53 + 11)
    Gen.writeParquetFile(new File(dir, "orders.parquet/part-0.parquet"),
      """message orders { required int64 o_orderkey; required int64 o_custkey;
        required int64 o_totalprice (DECIMAL(15,2)); required binary o_orderpriority (STRING); }""",
      (0 until 150000).iterator.map(i => Seq(Gen.orderKey(i), (1 + r.nextInt(15000)).toLong,
        90000L + r.nextInt(50000000), Gen.Priorities(r.nextInt(5)))))
  }

  /** Returns the jobs the listener saw, and the failed checks. */
  def crossCheck(spark: SparkSession, t: Tracer, dir: File): (Int, Seq[String]) = {
    val root = new File(dir, "cdcr").getPath
    t.traced(FirstId, "xcheck:cdc_rollup_view") {
      import graft.operators.CdcRollup
      val k = col("o_orderkey")
      val ord = graft.queries.Tables(spark, dir.getPath, "orders")
        .select(k, col("o_orderpriority"), col("o_totalprice"), col("o_custkey"))
        .filter(k % 8 === 0)
      def ins(m: Int, seq: Int) = ord.filter(k % 3 === m)
        .select(k, col("o_orderpriority"), col("o_totalprice"),
          col("o_custkey"), lit(seq.toLong).as("seq"), lit("I").as("op"))
      val b0 = ins(0, 1)
      val b1 = ins(1, 1).unionByName(
        ord.filter(k % 3 === 0 && k % 7 === 0)
          .select(k, lit("X-UPD").as("o_orderpriority"),
            col("o_totalprice"), col("o_custkey"),
            lit(2L).as("seq"), lit("U").as("op")))
      val b2 = ins(2, 1).unionByName(
        ord.filter(k % 5 === 0 && k % 3 =!= 2)
          .select(k, col("o_orderpriority"), col("o_totalprice"),
            col("o_custkey"), lit(3L).as("seq"), lit("D").as("op")))
      Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
        CdcRollup.foldBatch(root, i.toLong, b, Seq("o_orderkey"),
          "seq", "op", Seq("o_orderpriority"),
          Seq("o_totalprice", "o_custkey"),
          nBaseBuckets = 2, nAggBuckets = 2)
      }
      CdcRollup.readView(spark, root).get
        .select(col("o_orderpriority"), col("n"),
          col("total_1").cast("double").as("total_price"),
          col("total_2").cast("double").as("total_cust"))
        .orderBy("o_orderpriority")
        .write.format("noop").mode("overwrite").save()
    }
    val op = t.traces.find(_.id == FirstId).get
    val byModule = op.jobs.groupBy(_.module).map { case (m, js) => s"$m=${js.length}" }
    val anchor = math.abs(op.jobs.length - Recorded) <= 1
    println(s"cross-check cdc_rollup_view: ${op.jobs.length} jobs by the listener " +
      s"(${byModule.mkString(" ")}), ${op.groupJobs} in its job group; the " +
      s"recorded $Recorded ± 1 ${if (anchor) "holds" else "does NOT hold (a program change moved the fold job count?)"}")
    (op.jobs.length,
      if (op.jobs.length == op.groupJobs) Nil
      else Seq(s"cdc_rollup_view cross-check: the listener saw ${op.jobs.length} " +
        s"jobs, Spark's job group ${op.groupJobs}"))
  }
}
