package graftbench

import graft.etl.{CodeCorrection, DimAlign, IncrementalPipeline, PartitionedSink,
  PivotAggregates}
import graft.functions.RomanCodec
import graft.sources.GraftCsv
import graft.validation.{Between, InSet, MatchRegex, NotNull, Validator}
import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** `permits_etl`: the reference DAG over building-permit registers.
  *
  * Inputs (written by [[PermitsEtl.Gen]]): monthly `#`-delimited,
  * 26-column permit CSVs, two ZIP archives per month for six months
  * (more archives than cores, so a reader whose parallelism follows the
  * archive count can use every core), one archive pair for the
  * following month, and a powiaty dimension of
  * (name, code). Planted: malformed lines (a non-numeric `kubatura`),
  * unparseable dates, and TERC codes that are null (with and without a
  * fallback, with and without a findable place name), one digit short,
  * of an invalid voivodeship prefix, or of a powiat the dimension lacks;
  * powiats with no permits; out-of-range volumes and unknown categories.
  * The next month adds a building-work kind the first load never saw, so
  * its aggregate append evolves the sink schema.
  *
  * One iteration is two timed operations, and `wall_s` is their sum, the
  * cold time to the complete aggregate of the monthly cycle:
  *  1. `first_load` (`first_wall_s`): readZip → goodRecords → validate +
  *     renderHtml → classifyWithLookup + dropInvalid →
  *     IncrementalPipeline.run into a month-partitioned sink → read back →
  *     countPivot2 for the 3/2/1-month windows → outer merge →
  *     removeUnmatched + zeroFill → appendAligned;
  *  2. `incremental` (`incr_wall_s`): the same chain over the next
  *     month's archives, landing through dynamic month overwrite and
  *     appending an aggregate with new columns.
  * Every number the checks compare against is a plain-Scala recount of
  * the generated rows.
  */
object PermitsEtl extends Workload {
  val name = "permits_etl"

  // ---- fixed vocabulary --------------------------------------------------

  val Columns: Seq[String] = Seq(
    "numer_ewidencyjny_system", "numer_ewidencyjny_urzad",
    "data_wplywu_wniosku_do_urzedu", "nazwa_organu", "wojewodztwo_objekt",
    "obiekt_kod_pocztowy", "miasto", "terc", "cecha", "cecha2", "ulica",
    "ulica_dalej", "nr_domu", "rodzaj_inwestycji", "kategoria",
    "nazwa_zam_budowlanego", "rodzaj_zam_budowlanego", "kubatura", "stan",
    "jednostki_numer", "obreb_numer", "numer_dzialki",
    "numer_arkusza_dzialki", "nazwisko_projektanta", "imie_projektanta",
    "projektant_numer_uprawnien")
  require(Columns.size == 26)

  val Schema: StructType = StructType(Columns.map {
    case "kubatura" => StructField("kubatura", DoubleType)
    case c => StructField(c, StringType)
  })

  val DateCol = "data_wplywu_wniosku_do_urzedu"
  val Voivodeships: Seq[String] = (2 to 32 by 2).map(w => f"$w%02d")
  val Kinds: Seq[String] = Seq("budowa", "rozbudowa", "odbudowa", "nadbudowa")
  /** Appears only in the incremental month: the schema-evolution case. */
  val NewKind = "przebudowa"
  val Categories: Seq[String] = (1 to 5).map(RomanCodec.toRomanStr)
  val FirstMonths: Seq[String] = (1 to 6).map(m => f"2023-$m%02d")
  val NextMonth = "2023-07"
  val Exec1 = "2023-07-01"
  val Exec2 = "2023-08-01"
  val ArchivesPerMonth = 2
  /** At local[4] the traced load keeps about half the cores busy in
    * etl.sink and a third in etl.code_correction at this size; four times
    * as many rows raise that to 0.6 and 0.5 but make every cold run a
    * quarter longer, and the run's time is bounded. The cold iteration is
    * dominated by the JVM's and Spark's warm-up either way.
    */
  val RowsPerArchive = 3000
  val Windows: Seq[Int] = Seq(3, 2, 1)

  // ---- generated truth ----------------------------------------------------

  /** One generated line and what the pipeline must make of it. `code` is
    * the expected cleansed code, `status` the expected classification,
    * `month` the parsed date's month (None if the date does not parse).
    */
  final case class Row(pk: String, bad: Boolean,
      month: Option[String], date: Option[String], terc: Option[String],
      status: String, code: Option[String], kind: String, category: String,
      kubatura: Double)

  final case class Dim(name: String, code: String)

  final case class Data(dims: Seq[Dim], first: Seq[Row], next: Seq[Row])

  object Gen {
    private def letters(r: java.util.Random, n: Int): String =
      (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString

    def dims(r: java.util.Random): Seq[Dim] = {
      val names = mutable.LinkedHashSet.empty[String]
      val out = for (w <- Voivodeships; p <- 1 to 7) yield {
        var n = "pow" + letters(r, 6)
        while (names.contains(n)) n = "pow" + letters(r, 6)
        names += n
        Dim(n, f"$w$p%02d")
      }
      out
    }

    /** Deterministic rows for one archive of `month`, with their lines. */
    def rows(r: java.util.Random, active: Seq[Dim], month: String,
        archive: Int, kinds: Seq[String]): Seq[(Row, String)] =
      (0 until RowsPerArchive).map { i =>
        val pk = s"${month.replace("-", "")}-$archive-$i"
        val dim = active(r.nextInt(active.size))
        val day = 1 + r.nextInt(28)
        val goodDate = f"$month-$day%02d"
        val dateRoll = r.nextInt(1000)
        val dateStr = if (dateRoll < 6) "2023-13-45" else if (dateRoll < 12) "brak" else goodDate
        val date = if (dateRoll < 12) None else Some(goodDate)
        val kind = kinds(r.nextInt(kinds.size))
        val catRoll = r.nextInt(1000)
        val category = if (catRoll < 5) "XCIX" else Categories(r.nextInt(Categories.size))
        val kub = if (r.nextInt(1000) < 8) 75000.5 else (10 + r.nextInt(400000)) / 10.0
        val bad = r.nextInt(1000) < 5
        val tercFull = dim.code + f"${1 + r.nextInt(9)}%02d" + (1 + r.nextInt(3))
        val place = s"m. ${dim.name} gm. ${letters(r, 5)}"
        val roll = r.nextInt(1000)
        // (raw terc, fallback, place, expected status, expected code)
        val (terc, fb, pl, status, code) =
          if (roll < 20 && dim.code.startsWith("0"))
            (tercFull.drop(1), "", place, CodeCorrection.Ok, Some(tercFull))
          else if (roll < 40)
            ("", tercFull + "_1", place, CodeCorrection.Matched, Some(tercFull))
          else if (roll < 55)
            ("", "", place, CodeCorrection.MatchedByName, Some(dim.code))
          else if (roll < 62)
            ("", "", s"wies ${letters(r, 7)}", CodeCorrection.Unknown, None)
          else if (roll < 70) {
            val c = "99" + tercFull.drop(2)
            (c, "", place, CodeCorrection.Unknown2, Some(c))
          } else if (roll < 78) {
            // a valid voivodeship but a powiat the dimension does not list
            val c = dim.code.take(2) + "98" + tercFull.drop(4)
            (c, "", place, CodeCorrection.Ok, Some(c))
          } else (tercFull, "", place, CodeCorrection.Ok, Some(tercFull))
        val kubStr = if (bad) "abc" else kub.toString
        val fields = Seq(pk, s"U/$archive/$i", dateStr, s"Starosta ${dim.name}",
          s"woj${dim.code.take(2)}", f"${r.nextInt(100)}%02d-${r.nextInt(1000)}%03d",
          pl, terc, "ul.", "", s"Ulica${r.nextInt(500)}", "", (1 + r.nextInt(200)).toString,
          "nowy", category, "budynek mieszkalny", kind, kubStr, "1", fb,
          f"${r.nextInt(100)}%04d", s"${r.nextInt(900)}/${r.nextInt(9)}", "1",
          "Kowalski", "Jan", s"UAN-${r.nextInt(9000)}")
        (Row(pk, bad, date.map(_.take(7)), date,
          Option(terc).filter(_.nonEmpty), status, code, kind, category,
          kub), fields.mkString("#"))
      }

    /** The rows with their truth, and the archive lines (first, next). */
    def data(seed: Long): (Data, Seq[String], Seq[String]) = {
      val r = new java.util.Random(seed * 1000003L + 17L)
      val ds = dims(r)
      // about a tenth of the powiats never see a permit: zero-filled rows
      val active = ds.filter(_ => r.nextInt(10) != 0)
      val first = (for (m <- FirstMonths; a <- 0 until ArchivesPerMonth)
        yield rows(r, active, m, a, Kinds)).flatten
      val next = (for (a <- 0 until ArchivesPerMonth)
        yield rows(r, active, NextMonth, a, Kinds :+ NewKind)).flatten
      (Data(ds, first.map(_._1), next.map(_._1)), first.map(_._2), next.map(_._2))
    }

    private def writeZip(f: File, entry: String, lines: Seq[String]): Unit = {
      val zos = new java.util.zip.ZipOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
      zos.setLevel(java.util.zip.Deflater.BEST_SPEED)
      try {
        val e = new java.util.zip.ZipEntry(entry)
        e.setTime(0L)
        zos.putNextEntry(e)
        val w = new java.io.OutputStreamWriter(zos, java.nio.charset.StandardCharsets.UTF_8)
        lines.foreach { l => w.write(l); w.write('\n') }
        w.flush()
        zos.closeEntry()
      } finally zos.close()
    }

    /** Write the archives and the dimension under `dir`. */
    def write(dir: File, d: Data, firstLines: Seq[String], nextLines: Seq[String]): Unit = {
      val first = new File(dir, "first"); first.mkdirs()
      val next = new File(dir, "next"); next.mkdirs()
      firstLines.grouped(RowsPerArchive).zipWithIndex.foreach { case (rs, i) =>
        writeZip(new File(first, f"permits_$i%02d.zip"), f"permits_$i%02d.csv", rs)
      }
      nextLines.grouped(RowsPerArchive).zipWithIndex.foreach { case (rs, i) =>
        writeZip(new File(next, f"permits_next_$i%02d.zip"), f"permits_next_$i%02d.csv", rs)
      }
      val dim = new File(dir, "powiaty"); dim.mkdirs()
      java.nio.file.Files.write(new File(dim, "powiaty.csv").toPath,
        d.dims.map(x => s"${x.name}#${x.code}").mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** The generated rows' truth, kept per seed for the checks. */
  private val dataCache = scala.collection.concurrent.TrieMap.empty[Long, Data]
  def data(seed: Long): Data = dataCache.getOrElseUpdate(seed, Gen.data(seed)._1)

  def generate(ctx: RunCtx, dir: File, seed: Long): Long = {
    val (d, firstLines, nextLines) = Gen.data(seed)
    dataCache(seed) = d
    Gen.write(dir, d, firstLines, nextLines)
    (d.first.size + d.next.size).toLong
  }

  // ---- the pipeline --------------------------------------------------------

  val DimSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("code", StringType)))

  def expectations: Seq[graft.validation.Expectation] = Seq(
    NotNull("date_parsed", col(DateCol)),
    MatchRegex("terc_7_digits", col("terc"), "^[0-9]{7}$"),
    InSet("kategoria_known", col("kategoria"), Categories),
    Between("kubatura_range", col("kubatura"), 0.0, 50000.0),
    NotNull("miasto_present", col("miasto")))

  def pivotCols(kinds: Seq[String]): Seq[String] =
    for (w <- Windows; k <- kinds; c <- Categories.indices)
      yield s"cnt_${k}_${c + 1}_${w}m"

  /** In traced iterations each span's output is persisted and counted, so
    * the span holds its own work; `held` collects them for release.
    */
  private def boundary(ctx: RunCtx, df: DataFrame, held: mutable.Buffer[DataFrame]): DataFrame =
    if (!ctx.tracer.active) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      p.count()
      p
    }

  /** What one load produced, for the checks. */
  final case class LoadOut(raw: DataFrame, html: String, unmatched: DataFrame)

  /** One monthly load: ingest, validate, cleanse, land, aggregate. */
  def load(ctx: RunCtx, archives: String, dimPath: String, sink: String,
      aggSink: String, exec: String, kinds: Seq[String],
      held: mutable.Buffer[DataFrame]): LoadOut = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dim = GraftCsv.goodRecords(GraftCsv.read(spark, dimPath, DimSchema))
    val (raw, good) = t.span("sources.read_zip") {
      val raw = GraftCsv.readZip(spark, archives, Schema, timestampCols = Seq(DateCol))
      val good = boundary(ctx, GraftCsv.goodRecords(raw), held)
      (raw, good)
    }
    val html = t.span("validation.validate") {
      Validator.renderHtml(Validator.validate(good, expectations), title = "permits")
    }
    val fallback = regexp_extract(col("jednostki_numer"), "^([0-9]{6,7})_", 1)
    val (classified, clean) = t.span("etl.code_correction") {
      val c = boundary(ctx, CodeCorrection.classifyWithLookup(good,
        "numer_ewidencyjny_system", col("terc"), fallback, col("miasto"), dim,
        "name", "code", width = 7, prefixLen = 2, validPrefixes = Voivodeships), held)
      (c, CodeCorrection.dropInvalid(c))
    }
    if (t.active) countLookups(classified, fallback)
    t.span("etl.sink") {
      IncrementalPipeline.run(spark, clean, DateCol, "code", sink,
        lit(exec).cast("date"))
    }
    val merged = t.span("etl.pivots") {
      val landed = spark.read.parquet(sink)
        .withColumn("powiat", substring(col("code"), 1, 4))
      val until = exec.take(7)
      val perWindow = Windows.map { w =>
        val window = landed
          .where(col("p_month").cast("string") >= monthMinus(exec, w) &&
            col("p_month").cast("string") < until)
          .where(col(DateCol) >= add_months(lit(exec).cast("date"), -w) &&
            col(DateCol) < lit(exec).cast("date"))
        val p = PivotAggregates.countPivot2(window, "powiat",
          "rodzaj_zam_budowlanego", kinds, "kategoria", Categories)
        p.select(p.columns.toIndexedSeq.map(c =>
          if (c == "powiat") col(c) else col(c).as(s"${c}_${w}m")): _*)
      }
      val joined = perWindow.reduce((a, b) => a.join(b, Seq("powiat"), "outer"))
      boundary(ctx, joined.select(col("powiat") +:
        pivotCols(kinds).map(c => coalesce(col(c), lit(0L)).as(c)): _*), held)
    }
    val (aligned, unmatched) = t.span("etl.dim_align") {
      // aggregate rows whose powiat the dimension lacks: dropped by the
      // alignment, counted by the checks
      (boundary(ctx, DimAlign.zeroFill(dim, merged, "code", "powiat", pivotCols(kinds))
        .withColumn("snapshot", lit(exec)), held),
        DimAlign.removeUnmatched(merged, dim, "powiat", "code"))
    }
    t.span("etl.sink") {
      PartitionedSink.appendAligned(spark, aligned, aggSink)
      if (t.active) {
        val files = listFiles(new File(sink)) ++ listFiles(new File(aggSink))
        t.count("written_mb", files.map(_.length).sum / 1048576.0)
        t.count("files", files.size.toDouble)
      }
    }
    LoadOut(raw, html, unmatched)
  }

  /** Rows the code correction sent to its name lookup (raw code and
    * fallback both empty) and, of those, the ones it found a code for,
    * counted on its output over the traced loads.
    */
  private var lookupSent, lookupFound = 0L

  private def countLookups(classified: DataFrame, fallback: Column): Unit = {
    def empty(c: Column) = c.isNull || length(trim(c)) === 0
    val sent = classified.where(empty(col("terc")) && empty(fallback))
    val r = sent.agg(count(lit(1)),
      count(when(col("status") === CodeCorrection.MatchedByName, 1))).head()
    lookupSent += r.getLong(0)
    lookupFound += r.getLong(1)
  }

  override def traceExtras(t: Tracer): Seq[(String, Double)] =
    Seq("etl.code_correction.lookup_hit_ratio" -> lookupFound.toDouble / lookupSent.max(1L))

  private def monthMinus(exec: String, m: Int): String = {
    val d = java.time.LocalDate.parse(exec).minusMonths(m)
    f"${d.getYear}%04d-${d.getMonthValue}%02d"
  }

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(listFiles)
    else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) Seq(f)
    else Nil

  def iteration(ctx: RunCtx, in: File, out: File, seed: Long, iter: Int): Iter = {
    val d = data(seed)
    val sink = new File(out, "permits_sink").getAbsolutePath
    val aggSink = new File(out, "aggregates").getAbsolutePath
    val dimPath = new File(in, "powiaty").getAbsolutePath
    val opFirst = s"it$iter/first_load"
    val opIncr = s"it$iter/incremental"
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val failures = mutable.ArrayBuffer.empty[Failure]
    val checks = mutable.ArrayBuffer.empty[Check]
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def timed[T](op: String, metric: String)(body: => T): Option[T] =
      try {
        val t0 = System.nanoTime()
        val r = body
        samples(metric) = Seq((System.nanoTime() - t0) / 1e9)
        Some(r)
      } catch { case e: Exception => failures += Failure.of(op, e); None }

    val first = timed(opFirst, "first_wall_s") {
      load(ctx, new File(in, "first").getAbsolutePath + "/*.zip", dimPath, sink,
        aggSink, Exec1, Kinds, held)
    }
    first.foreach(o => checks ++= guard(opFirst)(checkFirst(ctx, d, o, sink, aggSink, opFirst)))
    ctx.heap.settle()
    held.foreach(_.unpersist())
    held.clear()
    if (first.isDefined) {
      val next = timed(opIncr, "incr_wall_s") {
        load(ctx, new File(in, "next").getAbsolutePath + "/*.zip", dimPath, sink,
          aggSink, Exec2, Kinds :+ NewKind, held)
      }
      next.foreach(o => checks ++= guard(opIncr)(checkNext(ctx, d, o, sink, aggSink, opIncr)))
      ctx.heap.settle()
      held.foreach(_.unpersist())
    }
    for (a <- samples.get("first_wall_s"); b <- samples.get("incr_wall_s"))
      samples("wall_s") = Seq(a.head + b.head)
    Iter(samples.toMap, Seq(opFirst, opIncr), failures.toSeq, checks.toSeq)
  }

  override def summarize(samples: Map[String, Seq[Double]], records: Long,
      wall: Double): Seq[(String, Double, String)] =
    Seq("first_wall_s", "incr_wall_s").map(k =>
      (k, samples.get(k).flatMap(_.headOption).getOrElse(Double.NaN), "s"))

  /** A check that throws is a failed check, with the exception as detail. */
  def guard(op: String)(body: => Seq[Check]): Seq[Check] =
    try body catch {
      case e: Exception => Seq(Check(op, "check_ran", ok = false, Failure.of(op, e).toString))
    }

  private def eq(op: String, name: String, got: Any, want: Any): Check =
    Check(op, name, got == want, s"got $got, want $want")

  // ---- checks ------------------------------------------------------------

  /** Expected (n_rows, n_pass) per expectation over the good rows. */
  def validationTruth(rows: Seq[Row]): Map[String, (Long, Long)] = {
    val good = rows.filterNot(_.bad)
    val n = good.size.toLong
    def c(p: Row => Boolean) = (n, good.count(p).toLong)
    Map(
      "date_parsed" -> c(_.date.isDefined),
      "terc_7_digits" -> c(_.terc.exists(_.matches("^[0-9]{7}$"))),
      "kategoria_known" -> c(r => Categories.contains(r.category)),
      "kubatura_range" -> c(r => r.kubatura >= 0.0 && r.kubatura <= 50000.0),
      "miasto_present" -> c(_ => true))
  }

  /** (expectation → (n_rows, n_pass)) read back out of the rendered page. */
  def parseHtml(html: String): Map[String, (Long, Long)] = {
    val cell = "<td>([^<]*)</td>".r
    html.split("\n").filter(_.startsWith("<tr class=")).map { tr =>
      val tds = cell.findAllMatchIn(tr).map(_.group(1)).toIndexedSeq
      tds(0) -> ((tds(1).toLong, tds(2).toLong))
    }.toMap
  }

  private def landedRows(d: Data, exec: String): Seq[Row] =
    (d.first ++ d.next).filter(r => !r.bad && r.month.exists(_ < exec.take(7)) &&
      Set(CodeCorrection.Ok, CodeCorrection.Matched, CodeCorrection.MatchedByName)
        .contains(r.status))

  /** Pivot cells per dimension code for the load landing before `exec`. */
  def pivotTruth(d: Data, exec: String, kinds: Seq[String]): Map[String, Map[String, Long]] = {
    val cells = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
    val catIndex = Categories.zipWithIndex.toMap
    landedRows(d, exec).foreach { r =>
      for (w <- Windows if r.month.get >= monthMinus(exec, w); ci <- catIndex.get(r.category)) {
        val k = (r.code.get.take(4), s"cnt_${r.kind}_${ci + 1}_${w}m")
        cells(k) = cells(k) + 1
      }
    }
    d.dims.map(x => x.code -> pivotCols(kinds).map(c => c -> cells((x.code, c))).toMap).toMap
  }

  /** Aggregate groups (powiat codes) the dimension does not list. */
  def unmatchedTruth(d: Data, exec: String): Long = {
    val dimCodes = d.dims.map(_.code).toSet
    landedRows(d, exec).filter(_.month.get >= monthMinus(exec, Windows.max))
      .flatMap(_.code.map(_.take(4))).filterNot(dimCodes.contains).distinct.size.toLong
  }

  def checkFirst(ctx: RunCtx, d: Data, o: LoadOut, sink: String, aggSink: String,
      op: String): Seq[Check] = {
    val spark = ctx.spark
    val out = mutable.ArrayBuffer.empty[Check]
    val badGot = o.raw.where(col(GraftCsv.CorruptCol).isNotNull)
      .select(col("numer_ewidencyjny_system"), col(GraftCsv.CorruptCol)).count()
    out += eq(op, "bad_records", badGot, d.first.count(_.bad).toLong)
    val html = parseHtml(o.html)
    validationTruth(d.first).foreach { case (k, v) =>
      out += eq(op, s"validation.$k", html.get(k), Some(v))
    }
    // statuses are checked where they land: checkSink counts the kept
    // statuses per month, so a row dropped or kept wrongly shows there
    ctx.tracer.note("sources.read_zip", "bad_rows", badGot.toDouble)
    out += eq(op, "unmatched_aggregate_rows", o.unmatched.count(), unmatchedTruth(d, Exec1))
    out ++= checkSink(op, spark, d, sink, Exec1)
    out ++= checkAggregates(op, spark, d, aggSink, Exec1, Kinds, Set.empty)
    out.toSeq
  }

  def checkNext(ctx: RunCtx, d: Data, o: LoadOut, sink: String, aggSink: String,
      op: String): Seq[Check] = {
    val spark = ctx.spark
    val out = mutable.ArrayBuffer.empty[Check]
    val html = parseHtml(o.html)
    validationTruth(d.next).foreach { case (k, v) =>
      out += eq(op, s"validation.$k", html.get(k), Some(v))
    }
    out ++= checkSink(op, spark, d, sink, Exec2)
    out ++= checkAggregates(op, spark, d, aggSink, Exec2, Kinds :+ NewKind,
      pivotCols(Seq(NewKind)).toSet)
    out.toSeq
  }

  /** Rows per month partition of the landed sink, and status counts. */
  def checkSink(op: String, spark: SparkSession, d: Data, sink: String, exec: String): Seq[Check] = {
    val landed = spark.read.parquet(sink)
    val got = landed.groupBy(substring(col("p_month").cast("string"), 1, 7), col("status"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = landedRows(d, exec).groupBy(r => (r.month.get, r.status)).view.mapValues(_.size.toLong).toMap
    val dupes = landed.groupBy("numer_ewidencyjny_system").count().where(col("count") > 1).count()
    Seq(eq(op, "sink_month_status_counts", got, want),
      eq(op, "sink_no_duplicate_pk", dupes, 0L))
  }

  /** The aggregate snapshot for `exec`: every dimension row, every pivot
    * cell equal to the recount, the zero-filled powiats, and — after the
    * schema grew — earlier snapshots reading the new columns as 0.
    */
  def checkAggregates(op: String, spark: SparkSession, d: Data, aggSink: String,
      exec: String, kinds: Seq[String], newCols: Set[String]): Seq[Check] = {
    val all = PartitionedSink.readAligned(spark, aggSink)
    val cols = pivotCols(kinds)
    val mine = all.where(col("snapshot") === exec)
      .select((col("code") +: cols.map(col)): _*).collect()
    val got = mine.map(r => r.getString(0) -> cols.indices.map(i => cols(i) -> r.getLong(i + 1)).toMap).toMap
    val want = pivotTruth(d, exec, kinds)
    val wrongCells = want.toSeq.flatMap { case (code, cells) =>
      cells.toSeq.filter { case (c, v) => got.get(code).flatMap(_.get(c)) != Some(v) }
        .map { case (c, v) => s"$code/$c want $v got ${got.get(code).flatMap(_.get(c))}" }
    }
    val zeroWant = want.count(_._2.values.forall(_ == 0L))
    val zeroGot = got.count(_._2.values.forall(_ == 0L))
    val evolved = if (newCols.isEmpty) Nil else {
      val old = all.where(col("snapshot") =!= exec)
      Seq(eq(op, "schema_evolution_zero_fill",
        old.select(newCols.toSeq.map(c => sum(col(c))): _*).collect().head.toSeq
          .map(v => Option(v).map(_.toString.toLong).getOrElse(-1L)).forall(_ == 0L), true),
        eq(op, "earlier_snapshots_kept", old.count(), d.dims.size.toLong))
    }
    Seq(
      eq(op, "aggregate_rows", mine.length.toLong, d.dims.size.toLong),
      Check(op, "pivot_cells", wrongCells.isEmpty,
        s"${wrongCells.size} wrong: ${wrongCells.take(5).mkString("; ")}"),
      eq(op, "zero_filled_powiats", zeroGot, zeroWant),
      Check(op, "has_zero_filled_powiats", zeroWant > 0, s"$zeroWant")) ++ evolved
  }
}
