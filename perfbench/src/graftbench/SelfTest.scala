package graftbench

import java.io.File
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's own tests (run by perfbench/tests/test_bench.py):
  *
  *  1. generators are deterministic: the same seed writes byte-identical
  *     inputs, a different seed writes different ones;
  *  2. every checker accepts a real output and rejects a deliberately
  *     corrupted copy of it.
  *
  *   graftbench.SelfTest --work <dir> --bench <perfbench dir>
  *
  * Prints one line per test and exits non-zero if any fails.
  */
object SelfTest {

  private val results = mutable.ArrayBuffer.empty[(String, Boolean)]

  private def expect(name: String, ok: Boolean): Unit = {
    results += name -> ok
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  private def failing(checks: Seq[Check]): Set[String] = checks.filterNot(_.ok).map(_.name).toSet

  def tree(dir: File): Map[String, Seq[Byte]] =
    PermitsEtl.listFiles(dir).map(f =>
      f.getAbsolutePath.stripPrefix(dir.getAbsolutePath) ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work"))
    val benchDir = new File(opts("bench"))
    val spark = Main.session(2, new File(work, "spark-local"))
    val tracer = new Tracer(spark.sparkContext, 2, enabled = false, Map.empty)
    val ctx = new RunCtx(spark, tracer, new HeapMonitor, benchDir)
    try {
      determinism(ctx, work)
      permitsCheckers(ctx, work)
      corpusCheckers(ctx, work)
      queryCheckers(ctx)
    } finally spark.stop()
    val bad = results.filterNot(_._2)
    println(s"${results.size - bad.size} passed, ${bad.size} failed")
    Main.deleteRecursively(work)
    if (bad.nonEmpty) sys.exit(1)
  }

  def determinism(ctx: RunCtx, work: File): Unit =
    Seq(PermitsEtl, CorpusPrep).foreach { wl =>
      val a = new File(work, s"${wl.name}_a"); wl.generate(ctx, a, 11L)
      val b = new File(work, s"${wl.name}_b"); wl.generate(ctx, b, 11L)
      val c = new File(work, s"${wl.name}_c"); wl.generate(ctx, c, 12L)
      val (ta, tb, tc) = (tree(a), tree(b), tree(c))
      expect(s"${wl.name}: same seed writes byte-identical inputs", ta.nonEmpty && ta == tb)
      expect(s"${wl.name}: another seed writes different inputs",
        ta.keySet == tc.keySet && ta.exists { case (k, v) => tc(k) != v })
      Seq(a, b, c).foreach(Main.deleteRecursively)
    }

  def permitsCheckers(ctx: RunCtx, work: File): Unit = {
    val spark = ctx.spark
    val in = new File(work, "permits_in")
    PermitsEtl.generate(ctx, in, 5L)
    val d = PermitsEtl.data(5L)
    val sink = new File(work, "permits_sink").getAbsolutePath
    val agg = new File(work, "permits_agg").getAbsolutePath
    val held = mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val out = PermitsEtl.load(ctx, new File(in, "first").getAbsolutePath + "/*.zip",
      new File(in, "powiaty").getAbsolutePath, sink, agg, PermitsEtl.Exec1, PermitsEtl.Kinds, held)
    val good = PermitsEtl.checkFirst(ctx, d, out, sink, agg, "t")
    expect("permits_etl: checks accept the real output", good.nonEmpty && good.forall(_.ok))

    val html = out.html.replaceFirst("(<td>date_parsed</td><td>[0-9]+</td><td>)([0-9]+)",
      "$1" + "999999")
    expect("permits_etl: validation check rejects a wrong pass count",
      failing(PermitsEtl.checkFirst(ctx, d, out.copy(html = html), sink, agg, "t"))
        .contains("validation.date_parsed"))

    val sink2 = new File(work, "permits_sink_corrupt").getAbsolutePath
    spark.read.parquet(sink).where(col("numer_ewidencyjny_system") =!= d.first.find(r =>
      !r.bad && r.month.isDefined && r.status == "Ok").get.pk)
      .write.partitionBy("p_month").parquet(sink2)
    expect("permits_etl: sink check rejects a lost row",
      failing(PermitsEtl.checkSink("t", spark, d, sink2, PermitsEtl.Exec1))
        .contains("sink_month_status_counts"))

    val agg2 = new File(work, "permits_agg_corrupt").getAbsolutePath
    val cell = PermitsEtl.pivotCols(PermitsEtl.Kinds).head
    val firstCode = d.dims.head.code
    spark.read.parquet(agg)
      .withColumn(cell, when(col("code") === firstCode, col(cell) + 1).otherwise(col(cell)))
      .write.parquet(agg2)
    expect("permits_etl: aggregate check rejects a wrong pivot cell",
      failing(PermitsEtl.checkAggregates("t", spark, d, agg2, PermitsEtl.Exec1,
        PermitsEtl.Kinds, Set.empty)).contains("pivot_cells"))

    val agg3 = new File(work, "permits_agg_nozero").getAbsolutePath
    val zeroCode = PermitsEtl.pivotTruth(d, PermitsEtl.Exec1, PermitsEtl.Kinds)
      .find(_._2.values.forall(_ == 0L)).get._1
    spark.read.parquet(agg).where(col("code") =!= zeroCode).write.parquet(agg3)
    expect("permits_etl: aggregate check rejects a missing zero-filled powiat",
      failing(PermitsEtl.checkAggregates("t", spark, d, agg3, PermitsEtl.Exec1,
        PermitsEtl.Kinds, Set.empty)).contains("zero_filled_powiats"))
    held.foreach(_.unpersist())
  }

  def corpusCheckers(ctx: RunCtx, work: File): Unit = {
    val in = new File(work, "corpus_in")
    CorpusPrep.generate(ctx, in, 5L)
    val d = CorpusPrep.data(5L)
    val it = CorpusPrep.iteration(ctx, in, new File(work, "corpus_out"), 5L, 0)
    expect("corpus_prep: checks accept the real output",
      it.failures.isEmpty && it.checks.nonEmpty && it.checks.forall(_.ok))
    val (packed, funnel) = CorpusPrep.lastOutputs
    def bad(p: Array[org.apache.spark.sql.Row], f: Array[org.apache.spark.sql.Row]) =
      failing(CorpusPrep.checkOutputs(ctx, d, in, p, f, "t"))
    expect("corpus_prep: packing check rejects a document packed twice",
      bad(packed :+ packed.head, funnel).contains("packed_each_survivor_once"))
    expect("corpus_prep: packing check rejects a lost survivor",
      bad(packed.tail, funnel).contains("packed_each_survivor_once"))
    val f2 = funnel.map(r => if (r.getString(0) == "3_near_dedup")
      org.apache.spark.sql.Row(r.getString(0), r.getLong(1) + 1) else r)
    expect("corpus_prep: funnel check rejects a wrong stage count",
      bad(packed, f2).contains("funnel.3_near_dedup"))
  }

  def queryCheckers(ctx: RunCtx): Unit = {
    import ctx.spark.implicits._
    val df = Seq((1L, "a", 0.1 + 0.2), (2L, "b", 1.5)).toDF("k", "s", "x")
    val want = QuerySuite.digest(df)
    val reordered = QuerySuite.digest(df.repartition(2).orderBy(col("k").desc))
    expect("query_suite: digest ignores row order", reordered == want)
    val changed = QuerySuite.digest(Seq((1L, "a", 0.3), (2L, "b", 1.5000001)).toDF("k", "s", "x"))
    expect("query_suite: check rejects a changed value", !QuerySuite.matches(changed, want))
    val lost = QuerySuite.digest(Seq((1L, "a", 0.1 + 0.2)).toDF("k", "s", "x"))
    expect("query_suite: check rejects a lost row", !QuerySuite.matches(lost, want))
    expect("query_suite: check accepts a rows-only expectation",
      QuerySuite.matches(changed, want.copy(sum = None, xor = None)))
  }
}
