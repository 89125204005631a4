package graftbench

import graft.Pipeline
import graft.dedup.{Contamination, DedupClusters, ExactDedup, MinHashDedup,
  NgramJaccard, Packing}
import graft.functions.{F, HtmlText, RobotsMeta, TextClean, TextStats}
import graft.sources.{ContentRoute, GraftWarc, WarcCodec, WarcTranscode}
import java.io.File
import java.nio.charset.StandardCharsets.{ISO_8859_1, US_ASCII, UTF_8}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** `corpus_prep`: the web-fed LLM-data funnel.
  *
  * Inputs (written by [[CorpusPrep.Gen]]): WARC archives assembled with
  * `WarcCodec.buildRecord`, half of them gzip'd per record, holding html,
  * plain-text, pdf and image captures plus request records, and a
  * benchmark set for decontamination. Planted: exact duplicates,
  * near-duplicate cliques, contaminated documents, low-quality and
  * non-English pages, encoding garbage (a control character, mojibake),
  * an unknown charset, textless PDFs, `noindex` pages, and one torn
  * record at the tail of one archive.
  *
  * One iteration is one timed operation (`wall_s`):
  * `Pipeline.prepareWebCorpus` → materialize `packed` and `funnel` →
  * `release()`. The checks compare every funnel stage count with the
  * generator's plain-Scala truth, require each surviving document to be
  * packed exactly once with its token count, and require that no cached
  * block is left after `release()`.
  */
object CorpusPrep extends Workload {
  val name = "corpus_prep"

  val Archives = 8
  /** The funnel is bound by Spark's fixed cost per job (its
    * connected-components loop alone runs two dozen small jobs): at
    * local[4], the prepareWebCorpus span keeps about a third of the cores
    * busy at this size, and still under half at four times as many
    * documents, for a fifth more wall time. So the corpus stays small.
    */
  val Unique = 800
  val ExactGroups = 50
  val Cliques = 50
  val Contaminated = 20
  val MaxTokens = 512L

  /** A capture's fate in the funnel, in stage order. */
  object Fate extends Enumeration {
    val Request, Image, TextlessPdf, Noindex, BadCharset, Control, Mojibake,
      LowQuality, German, Survives = Value
  }

  /** One generated record. `text` is the document text the funnel should
    * see after extraction and cleaning (for captures that get that far);
    * `group` ties exact duplicates (same bytes) and near-duplicate cliques
    * to one survivor, the smallest id of the group.
    */
  final case class Doc(id: Long, fate: Fate.Value, text: String, group: Long,
      contaminated: Boolean)

  final case class Data(docs: Seq[Doc], bench: Seq[(Long, String)], tornArchives: Int)

  object Gen {
    private val Stop = Seq("the", "a", "and")

    def vocab(r: java.util.Random): IndexedSeq[String] = {
      val banned = Set("der", "und", "nicht", "le", "les", "est", "el", "los",
        "es", "the", "a", "and", "be", "to", "of", "that", "have", "with")
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < 6000) {
        val n = 3 + r.nextInt(7)
        val w = (1 to n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
        if (!banned.contains(w)) out += w
      }
      out.toIndexedSeq
    }

    /** English-looking prose: vocabulary words with a stopword at every
      * twelfth position, so every page clears the quality gate (score
      * 500·stopwords/tokens ≥ 10) by a wide margin; `stop = false` makes
      * the low-quality pages, which score 0.
      */
    def prose(r: java.util.Random, v: IndexedSeq[String], stop: Boolean = true): Array[String] = {
      val n = 150 + r.nextInt(150)
      Array.tabulate(n)(i => if (stop && i % 12 == 5) Stop(r.nextInt(3)) else v(r.nextInt(v.size)))
    }

    /** A near-duplicate of `base`: every 25th token (at a member-specific
      * phase) replaced by a member-specific marker — pairwise bigram
      * Jaccard ≈ 0.7, well above the funnel's 50% verify threshold.
      */
    def variant(base: Array[String], member: Int, tag: Long): Array[String] =
      base.zipWithIndex.map { case (w, i) =>
        if (i % 25 == (member * 7) % 25) s"zq${tag}m${member}p$i" else w
      }

    def data(seed: Long): Data = {
      val r = new java.util.Random(seed * 7919L + 3L)
      val v = vocab(r)
      val docs = mutable.ArrayBuffer.empty[Doc]
      var id = 0L
      def next(): Long = { id += 1; id }
      def add(fate: Fate.Value, text: String, group: Long = -1L, contaminated: Boolean = false): Long = {
        val i = next()
        docs += Doc(i, fate, text, if (group < 0) i else group, contaminated)
        i
      }
      for (_ <- 0 until Unique) add(Fate.Survives, prose(r, v).mkString(" "))
      for (_ <- 0 until ExactGroups) {
        val t = prose(r, v).mkString(" ")
        val g = add(Fate.Survives, t)
        for (_ <- 0 until 1 + r.nextInt(3)) add(Fate.Survives, t, g)
      }
      for (c <- 0 until Cliques) {
        val base = prose(r, v)
        val size = 3 + r.nextInt(3)
        val g = add(Fate.Survives, variant(base, 0, c).mkString(" "))
        for (m <- 1 until size) add(Fate.Survives, variant(base, m, c).mkString(" "), g)
      }
      val bench = mutable.ArrayBuffer.empty[(Long, String)]
      for (_ <- 0 until Contaminated) {
        val t = prose(r, v).mkString(" ")
        add(Fate.Survives, t, contaminated = true)
        bench += ((bench.size + 1L, t))
      }
      // held-out texts nobody trained on: decontamination must keep them
      for (_ <- 0 until Contaminated) bench += ((bench.size + 1L, prose(r, v).mkString(" ")))
      for (_ <- 0 until 20) add(Fate.LowQuality, prose(r, v, stop = false).mkString(" "))
      for (_ <- 0 until 20) {
        val p = prose(r, v)
        p(p.length / 2) = "und"; p(p.length / 3) = "nicht"
        add(Fate.German, p.mkString(" "))
      }
      for (_ <- 0 until 15) add(Fate.Control, prose(r, v).mkString(" ") + " \u0007bel")
      for (_ <- 0 until 15) add(Fate.Mojibake, prose(r, v).mkString(" ") + " cafÃ©")
      for (_ <- 0 until 15) add(Fate.BadCharset, prose(r, v).mkString(" "))
      for (_ <- 0 until 15) add(Fate.Noindex, prose(r, v).mkString(" "))
      for (_ <- 0 until 15) add(Fate.TextlessPdf, "")
      for (_ <- 0 until 30) add(Fate.Image, "")
      for (_ <- 0 until 30) add(Fate.Request, "")
      // archive order is shuffled so every archive holds every kind
      val shuffled = docs.toIndexedSeq.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)
      Data(shuffled, bench.toSeq, 1)
    }

    /** Capture payload bytes and content type of a surviving-kind doc:
      * html or plain, the plain ones in one of three charset labelings.
      */
    private def capture(d: Doc): (String, Array[Byte], String) = {
      val uri = s"http://site${d.id % 97}.example/doc/${d.id}"
      def html(body: String, head: String = "") =
        s"<!DOCTYPE html><html><head>$head</head><body><p>$body</p></body></html>"
      d.fate match {
        case Fate.Request =>
          ("request", s"GET /doc/${d.id} HTTP/1.1\r\nHost: x\r\n\r\n".getBytes(US_ASCII), uri)
        case Fate.Image =>
          val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n') ++
            Array.fill[Byte](64)((d.id % 251).toByte)
          ("response", WarcCodec.httpResponse(png, "image/png"), uri)
        case Fate.TextlessPdf =>
          ("response", WarcCodec.httpResponse(s"%PDF-1.4 no objects ${d.id}".getBytes(US_ASCII),
            "application/pdf"), uri)
        case Fate.Noindex =>
          ("response", WarcCodec.httpResponse(html(d.text,
            "<meta name=\"robots\" content=\"noindex\">").getBytes(UTF_8),
            "text/html; charset=utf-8"), uri)
        case Fate.BadCharset =>
          ("response", WarcCodec.httpResponse(d.text.getBytes(UTF_8),
            "text/plain; charset=x-nope"), uri)
        case _ =>
          // exact duplicates share their group's bytes: same labeling
          (d.group % 4) match {
            case 0 => ("response", WarcCodec.httpResponse(html(d.text).getBytes(UTF_8),
              "text/html; charset=utf-8"), uri)
            case 1 => ("response", WarcCodec.httpResponse(d.text.getBytes(UTF_8),
              "text/plain; charset=utf-8"), uri)
            case 2 => ("response", WarcCodec.httpResponse(d.text.getBytes(ISO_8859_1),
              "text/plain; charset=iso-8859-1"), uri)
            case _ => ("response", WarcCodec.httpResponse(d.text.getBytes(UTF_8),
              "text/plain"), uri)
          }
      }
    }

    private def record(d: Doc): Array[Byte] = {
      val (typ, payload, uri) = capture(d)
      WarcCodec.buildRecord(typ, s"<urn:uuid:doc-${d.id}>", uri,
        "2024-03-01T00:00:00Z", payload)
    }

    /** Write the archives and the benchmark set under `dir`. Archive 0
      * ends in a torn record (its doc is not in `docs`' truth: see
      * [[tornDoc]]).
      */
    def write(dir: File, d: Data): Unit = {
      val warc = new File(dir, "warc"); warc.mkdirs()
      d.docs.zipWithIndex.groupBy(_._2 % Archives).toSeq.sortBy(_._1).foreach {
        case (a, docs) =>
          val gz = a % 2 == 1
          val f = new File(warc, if (gz) f"crawl_$a%02d.warc.gz" else f"crawl_$a%02d.warc")
          val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16)
          try {
            docs.map(_._1).foreach { doc =>
              val bytes = record(doc)
              if (gz) {
                // one gzip member per record, as crawlers write them
                val g = new java.util.zip.GZIPOutputStream(new java.io.OutputStream {
                  def write(b: Int): Unit = out.write(b)
                  override def write(b: Array[Byte], o: Int, l: Int): Unit = out.write(b, o, l)
                })
                g.write(bytes); g.close()
              } else out.write(bytes)
            }
            if (a == 0) out.write(record(tornDoc).dropRight(40))
          } finally out.close()
      }
      val benchDir = new File(dir, "bench"); benchDir.mkdirs()
      java.nio.file.Files.write(new File(benchDir, "bench.tsv").toPath,
        d.bench.map { case (i, t) => s"$i\t$t" }.mkString("", "\n", "\n").getBytes(UTF_8))
    }

    val tornDoc: Doc = Doc(999999999L, Fate.Survives, "torn capture text", 999999999L, false)
  }

  private val dataCache = scala.collection.concurrent.TrieMap.empty[Long, Data]
  def data(seed: Long): Data = dataCache.getOrElseUpdate(seed, Gen.data(seed))

  def generate(ctx: RunCtx, dir: File, seed: Long): Long = {
    val d = Gen.data(seed)
    dataCache(seed) = d
    Gen.write(dir, d)
    d.docs.size.toLong
  }

  // ---- truth ---------------------------------------------------------------

  def funnelTruth(d: Data): Map[String, Long] = {
    val docs = d.docs
    def n(p: Doc => Boolean) = docs.count(p).toLong
    import Fate._
    val w0 = docs.size.toLong
    val w1 = n(_.fate != Request)
    val w1b = n(x => x.fate != Request && x.fate != Image)
    val w2 = n(x => !Set(Request, Image, TextlessPdf, Noindex, BadCharset).contains(x.fate))
    val raw0 = n(x => Set(LowQuality, German, Survives).contains(x.fate))
    val gated = n(_.fate == Survives)
    val survivors = survivorIds(d)
    val exact = docs.filter(_.fate == Survives).groupBy(_.text).size.toLong
    Map("w0_records" -> w0, "w1_http_bodies" -> w1, "w1b_text_routed" -> w1b,
      "w2_transcoded" -> w2, "0_raw" -> raw0, "1_gated" -> gated,
      "2_exact_dedup" -> exact,
      "3_near_dedup" -> docs.filter(_.fate == Survives).map(_.group).distinct.size.toLong,
      "4_decontaminated" -> survivors.size.toLong, "5_packed" -> survivors.size.toLong)
  }

  /** Surviving doc id → its token count. */
  def survivorIds(d: Data): Map[Long, Long] =
    d.docs.filter(x => x.fate == Fate.Survives && !x.contaminated)
      .groupBy(_.group).values.map { g =>
        val keep = g.minBy(_.id)
        keep.id -> keep.text.split(" ").length.toLong
      }.toMap

  // ---- the pipeline ----------------------------------------------------------

  /** The last iteration's (packed, funnel) rows, for the self-tests. */
  var lastOutputs: (Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row]) =
    (Array.empty, Array.empty)

  def iteration(ctx: RunCtx, in: File, out: File, seed: Long, iter: Int): Iter = {
    val spark = ctx.spark
    val t = ctx.tracer
    val d = data(seed)
    val op = s"it$iter/prepare_web_corpus"
    val failures = mutable.ArrayBuffer.empty[Failure]
    val checks = mutable.ArrayBuffer.empty[Check]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    var results: Option[(Array[org.apache.spark.sql.Row], Array[org.apache.spark.sql.Row])] = None
    try {
      val t0 = System.nanoTime()
      val prep = t.span("Pipeline.prepare") {
        Pipeline.prepareWebCorpus(readWarc(ctx, in),
          docId = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1),
          bench = readBench(ctx, in), benchId = "bench_id", benchText = "text")
      }
      val packed = t.span("Pipeline.packed") { prep.packed.collect() }
      val funnel = t.span("Pipeline.funnel") { prep.funnel.collect() }
      if (t.active) t.note("Pipeline.prepare", "cached_mb", cachedMb(ctx))
      val t1 = System.nanoTime()
      ctx.heap.settle()
      val t2 = System.nanoTime()
      prep.release()
      samples("wall_s") = Seq((t1 - t0 + System.nanoTime() - t2) / 1e9)
      results = Some((packed, funnel))
    } catch { case e: Exception => failures += Failure.of(op, e) }
    lastOutputs = results.getOrElse((Array.empty, Array.empty))
    results.foreach { case (packed, funnel) =>
      checks ++= PermitsEtl.guard(op)(checkOutputs(ctx, d, in, packed, funnel, op))
    }
    val (cleanup, leakedMb) = cleanupAfterRelease(ctx, op)
    if (t.active) checks ++= PermitsEtl.guard(op)(traceStages(ctx, d, in, op))
    else lastLeakedMb = leakedMb
    Iter(samples.toMap, Seq(op), failures.toSeq, checks.toSeq, Seq(cleanup))
  }

  private def readWarc(ctx: RunCtx, in: File): DataFrame =
    GraftWarc.read(ctx.spark, new File(in, "warc").getAbsolutePath + "/*.warc*")

  private def readBench(ctx: RunCtx, in: File): DataFrame =
    ctx.spark.read.option("delimiter", "\t").schema("bench_id LONG, text STRING")
      .csv(new File(in, "bench").getAbsolutePath)

  private var lastLeakedMb = 0.0

  /** The funnel's stages one by one, for the traced iteration.
    * `prepareWebCorpus` is eager: its connected-components loop builds
    * every upstream stage before it returns, so a span around the call
    * cannot split them. Here each stage is the same public graft call
    * with the parameters `prepareWebCorpus` passes, composed the way it
    * composes them, persisted and counted in its own span, so each span
    * holds that stage's work and no other. This runs after the timed
    * part of the iteration. The stage counts are checked against the
    * generator's truth, which also shows that the chain matches the
    * pipeline's.
    */
  private def traceStages(ctx: RunCtx, d: Data, in: File, op: String): Seq[Check] = {
    val t = ctx.tracer
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(df: => DataFrame): (DataFrame, Long) = t.span(name) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      (p, p.count())
    }
    val (parsed, _) = stage("sources.warc")(readWarc(ctx, in))
    t.note("sources.warc", "damaged", GraftWarc.truncations(parsed).count().toDouble)
    val records = GraftWarc.records(parsed)
    val nRecords = records.count()
    val (transcoded, nTranscoded) = stage("functions.transcode_extract") {
      val route = ContentRoute.route(col("content_type"))
      val decoded = WarcTranscode.utf8Text(col("body"),
        WarcTranscode.charsetOf(col("content_type")))
      records.where(col("warc_type") === "response" && col("body").isNotNull)
        .where(route.isin(ContentRoute.RouteHtml, ContentRoute.RoutePlain,
          ContentRoute.RoutePdf))
        .select(regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
          when(route === ContentRoute.RouteHtml,
            when(!RobotsMeta.noindex(decoded), HtmlText.extract(decoded)))
            .when(route === ContentRoute.RoutePdf, element_at(F.pdfExtract(col("body")), 1))
            .otherwise(decoded).as("text"))
        .where(col("text").isNotNull)
    }
    val (gated, nGated) = stage("functions.text_gate") {
      transcoded
        .where(TextStats.replacementCount(col("text")) +
          TextStats.mojibakeCount(col("text")) + TextStats.controlCharCount(col("text")) === 0)
        .select(col("doc_id"), TextClean.cleanChain(col("text")).as("text"))
        .where(TextStats.langId(col("text")).isin("en") &&
          TextStats.qualityScore(col("text")) >= 10L)
    }
    val (exact, nExact) = stage("dedup.exact")(ExactDedup.dedup(gated, "doc_id", "text"))
    val (cands, nCands) = stage("dedup.candidates") {
      MinHashDedup.candidatePairs(exact, "doc_id", "text", shingleK = 2,
        numPerms = 128, bands = 64, minJaccardPct = 5)
    }
    t.note("dedup.candidates", "pairs", nCands.toDouble)
    val (pairs, nPairs) = stage("dedup.verify") {
      NgramJaccard.verify(exact, cands, "doc_id", "text", 2, 50).select("id_a", "id_b")
    }
    t.note("dedup.verify", "useful_ratio", nPairs.toDouble / nCands.max(1L))
    val (near, nNear) = stage("dedup.cc") {
      val keepers = DedupClusters.connectedComponents(exact, "doc_id", pairs)
        .where(col("id") === col("component")).select(col("id").as("doc_id"))
      exact.join(keepers, Seq("doc_id"), "left_semi")
    }
    val (decontaminated, nDecontaminated) = stage("dedup.contamination") {
      val contaminated = Contamination.overlap(readBench(ctx, in), "text",
        near, "doc_id", "text", 5)
        .where(col("contaminated_pct") >= 50L).select(col("bench_id").as("doc_id"))
      near.join(contaminated, Seq("doc_id"), "left_anti")
    }
    val (_, nPacked) = stage("dedup.packing") {
      Packing.firstFit(decontaminated.select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("n_tok")), "doc_id", col("n_tok"), MaxTokens, 8)
    }
    held.foreach(_.unpersist())
    // candidatePairs persists a frame of its own (see cleanupAfterRelease)
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val truth = funnelTruth(d)
    Seq("w0_records" -> nRecords, "w2_transcoded" -> nTranscoded, "1_gated" -> nGated,
      "2_exact_dedup" -> nExact, "3_near_dedup" -> nNear,
      "4_decontaminated" -> nDecontaminated, "5_packed" -> nPacked).map { case (k, n) =>
      Check(op, s"traced_stage.$k", truth(k) == n, s"got $n, want ${truth(k)}")
    }
  }

  /** The connected-components loop checkpoints its labels once before it
    * starts and once per propagation round, at the loop's own call site:
    * the Dedup.scala `localCheckpoint` site with the highest line number.
    * Its job count in the `dedup.cc` span is reported as the rounds.
    */
  override def traceExtras(t: Tracer): Seq[(String, Double)] = {
    val checkpoints = t.jobSites("dedup.cc").map(_._1)
      .filter(s => s.startsWith("localCheckpoint at Dedup.scala:"))
    val loopSite = checkpoints.maxByOption(_.split(":").last.toIntOption.getOrElse(0))
    Seq("Pipeline.leaked_mb" -> lastLeakedMb,
      "dedup.cc.iterations" -> checkpoints.count(loopSite.contains).toDouble)
  }

  private def cachedMb(ctx: RunCtx): Double =
    ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Cleanup assertion: a released funnel leaves no cached block behind,
    * so repeated runs in one session cannot fill memory or disk. The
    * connected-components loop's checkpointed rounds are freed by Spark's
    * context cleaner once unreferenced, so a collection is forced before
    * waiting, up to three seconds, until the cache is empty or has not
    * shrunk for half a second. Whatever is left is named in the assertion
    * and then dropped by the benchmark, so one iteration's leftovers never
    * slow the next.
    */
  def cleanupAfterRelease(ctx: RunCtx, op: String): (Check, Double) = {
    val sc = ctx.spark.sparkContext
    def left = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0).toSeq
    val deadline = System.nanoTime() + 3000000000L
    System.gc()
    var l = left
    var stable = 0
    while (l.nonEmpty && stable < 5 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = left
      stable = if (now.size < l.size) 0 else stable + 1
      l = now
    }
    val mb = l.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val named = l.map(i => f"rdd ${i.id} '${i.name.replaceAll("\\s+", " ").take(60)}' " +
      f"${(i.memSize + i.diskSize) / 1024.0}%.0f KiB")
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (Check(op, "no_cached_blocks_after_release", l.isEmpty,
      s"${l.size} cached RDDs left: ${named.mkString("; ")}"), mb)
  }

  def checkOutputs(ctx: RunCtx, d: Data, in: File, packed: Array[org.apache.spark.sql.Row],
      funnel: Array[org.apache.spark.sql.Row], op: String): Seq[Check] = {
    val out = mutable.ArrayBuffer.empty[Check]
    val got = funnel.map(r => r.getString(0) -> r.getLong(1)).toMap
    funnelTruth(d).foreach { case (stage, want) =>
      out += Check(op, s"funnel.$stage", got.get(stage).contains(want),
        s"got ${got.get(stage)}, want $want")
    }
    val want = survivorIds(d)
    val ids = packed.map(_.getAs[Long]("doc_id"))
    out += Check(op, "packed_each_survivor_once",
      ids.length == want.size && ids.toSet == want.keySet,
      s"${ids.length} packed rows, ${ids.toSet.size} distinct, ${want.size} survivors, " +
        s"${(want.keySet -- ids).size} missing, ${(ids.toSet -- want.keySet).size} unexpected")
    val badTokens = packed.count(r => want.get(r.getAs[Long]("doc_id"))
      .exists(_ != r.getAs[Long]("n_tokens")))
    out += Check(op, "packed_token_counts", badTokens == 0, s"$badTokens wrong")
    val overfull = packed.groupBy(_.getAs[Long]("seq_id"))
      .count(_._2.map(_.getAs[Long]("n_tokens")).sum > MaxTokens)
    out += Check(op, "sequences_within_max_tokens", overfull == 0, s"$overfull overfull")
    val damaged = GraftWarc.truncations(
      GraftWarc.read(ctx.spark, new File(in, "warc").getAbsolutePath + "/*.warc*")).count()
    out += Check(op, "damaged_records", damaged == d.tornArchives, s"got $damaged, want ${d.tornArchives}")
    out.toSeq
  }
}
