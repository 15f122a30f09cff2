package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}

import vfsidx.build.{IndexBuild, NumericIndex, SegmentRow, TriSegmentRow, TrigramIndex}
import vfsidx.codec.VarByte
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.query.{Bm25Index, QueryParser}
import vfsidx.tokenize.Tokenizer

/** Shape of a workload: corpus sizes and the op shapes its query stream
  * rotates through. Each of `rounds` refresh rounds (0: a read-only
  * workload) appends `slice` docs, then reads an equal share of the ops. */
final case class Plan(base: Int, slice: Int, rounds: Int, shapes: Seq[String])

object Plan {
  private val allShapes = Seq("bm25_or", "bm25_and", "substring", "regex", "nears", "range", "dsl")

  /** `scale`: full, tiny (the self-test) or train (every shape beside
    * refresh rounds, for the build's class-data-sharing archive). */
  def apply(workload: String, scale: String): Plan = (workload, scale) match {
    case (_, "train") => Plan(300, 30, 2, allShapes)
    case ("point_queries", "full") => Plan(2500, 0, 0, allShapes)
    case ("point_queries", "tiny") => Plan(300, 0, 0, allShapes)
    case ("refresh_mixed", "full") => Plan(1500, 100, 2, Seq("bm25_and", "substring", "dsl"))
    case ("refresh_mixed", "tiny") => Plan(300, 30, 2, Seq("bm25_and", "substring", "dsl"))
    case (w, s) => throw new IllegalArgumentException(s"unknown workload '$w' at scale '$s'")
  }
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String, scale: String, corrupt: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("out"), m.getOrElse("scale", "full"), m.getOrElse("corrupt", "0").toInt)
  }
}

/** One benchmark run: set up, build, then read (and, with refresh rounds,
  * ingest, fold and vacuum beside the reads). */
final class Run(a: Args, spark: SparkSession, sessionS: Double) {
  import spark.implicits._

  private val plan = Plan(a.workload, a.scale)
  private val cores = spark.sparkContext.defaultParallelism
  private val tr = new Tracer(spark.sparkContext, a.trace, s"${a.workload}-${a.seed}-${System.currentTimeMillis()}")
  private val ctx = new Ctx(spark, a.work)

  private val cfg = IndexBuild.BuildConfig(numBatches = 4, numBuckets = cores,
    saltThreshold = math.max(1L, plan.base / 10L), shardSize = 4096)
  // folds run in the benchmark's own compaction step, where they are timed
  private val triCfg = TrigramIndex.TriConfig(numBuckets = cores, maxGenerations = Int.MaxValue)
  private val foldAbove = 2   // generations a compaction leaves unfolded

  private var attempted = 0L
  private var failed = 0L
  private val timedMs = mutable.ArrayBuffer.empty[(String, Double)]

  def attemptedOps: Long = attempted
  def failedOps: Long = failed

  private def fail(what: String): Unit = { failed += 1; System.err.println(s"perfbench: FAILED $what") }

  /** Runs `op` (every op of a run runs once) and checks its answer against
    * the reference outside the timing. Returns the latency of a correct
    * answer. */
  private def execute(op: Op): Option[Double] = {
    attempted += 1
    try {
      var rows: Array[Row] = null
      var t0, t1, t2 = 0L
      tr.span("query." + op.family) {
        t0 = System.nanoTime()
        val df = op.plan(ctx)
        t1 = System.nanoTime()
        rows = df.collect()
        t2 = System.nanoTime()
        tr.current.attrs("plan_ms") = (t1 - t0) / 1e6
      }
      val bad = op.expected.diff(op.extract(rows))
      bad.foreach(why => fail(s"$op: $why"))
      if (bad.isEmpty) Some((t2 - t0) / 1e6) else None
    } catch {
      case NonFatal(e) =>
        fail(s"$op threw:")
        e.printStackTrace()
        None
    }
  }

  /** Closed loop, one client: every op of `ops`, in order. */
  private def loop(name: String, ops: Seq[Op]): Unit = tr.span(name) {
    ops.foreach(op => execute(op).foreach(ms => timedMs += op.shape -> ms))
  }

  private def indexCall[A](name: String)(f: => A): A = { attempted += 1; tr.span(name)(f) }

  private def docsFrame(docs: Seq[SourceFile]) = spark.sparkContext.parallelize(docs, cores).toDS()

  private def appendTable(docs: Seq[SourceFile], mode: String): Unit =
    docsFrame(docs).withColumn("n_chars", length(col("content")).cast("long"))
      .write.mode(mode).parquet(ctx.tableDir)

  /** The word index holds exactly docs [0, n), each with its content's sha256. */
  private def checkDocStats(corpus: Corpus, n: Int): Unit = {
    val st = IndexBuild.readDocStats(spark, ctx.wordDir)
      .getOrElse(throw new IllegalStateException("no committed doc_stats"))
      .select($"doc_id", $"sha256").as[(Long, String)].collect()
    require(st.length == n, s"doc_stats holds ${st.length} rows, the corpus $n docs")
    st.foreach { case (id, sha) =>
      require(sha == Synth.sha256Hex(corpus.docs(id.toInt).content), s"doc_stats sha256 of doc $id differs from its content")
    }
  }

  /** Every op sits under its engine cost gate (`Bm25Index.DirectFloor`,
    * `TrigramIndex.SearchDirectFloor`), so a workload cannot drift onto the
    * pruned paths unnoticed. */
  private def checkGates(ops: Seq[Op]): Unit = {
    val nRows = TrigramIndex.statsMerged(spark, ctx.triDir).map(_.n_rows)
      .getOrElse(throw new IllegalStateException(s"no trigram stats under ${ctx.triDir}"))
    val dfs = Generator.dictDf(ctx, ops.flatMap(_.gate match { case Bm25Gate(t) => t; case _ => Nil }))
    val over = ops.flatMap { op =>
      op.gate match {
        case TriGate(k) if k * nRows > TrigramIndex.SearchDirectFloor =>
          Some(s"$op: $k keys x $nRows rows > ${TrigramIndex.SearchDirectFloor}")
        case Bm25Gate(t) if t.map(dfs.getOrElse(_, 0L)).sum > Bm25Index.DirectFloor =>
          Some(s"$op: sum of df ${t.map(dfs.getOrElse(_, 0L)).sum} > ${Bm25Index.DirectFloor}")
        case _ => None
      }
    }
    if (over.nonEmpty)
      throw new IllegalStateException(s"${over.size} ops above their cost gate: ${over.take(5).mkString("; ")}")
  }

  def apply(): (Map[String, (Double, String)], Map[String, String]) = {
    // ---- setup: corpus, table, query streams and their reference answers ----
    val (corpus, warm, streams) = tr.span("setup") {
      val corpus = new Corpus(a.seed, plan.base, plan.slice, plan.rounds)
      appendTable(corpus.docs.take(plan.base).toSeq, "overwrite")
      val gen = new Generator(spark, corpus, a.seed)
      // a fixed count of distinct ops (whole rotations, one op of every
      // shape), sized to take about `seconds` at the nominal op latency:
      // the same work on every run, so slow and fast hosts time one mix
      val rotations = math.max(1, math.round(a.seconds * 1000 / math.max(1, plan.rounds) /
        Run.NominalOpMs / plan.shapes.size).toInt)
      def stream(nDocs: Int, from: Int) =
        for (_ <- 0 until rotations; s <- plan.shapes) yield gen.op(s, nDocs, from)
      val warm = plan.shapes.map(gen.op(_, plan.base))
      // read-only: one stream over the base; refresh: one per round, cut
      // from that round's new docs
      val streams =
        if (plan.rounds == 0) IndexedSeq(stream(plan.base, 0))
        else (1 to plan.rounds).map(r => stream(corpus.docsAfter(r), corpus.docsAfter(r - 1)))
      gen.finish()
      (warm ++ streams.flatten).take(a.corrupt).foreach(o => o.expected = o.expected.corrupted)
      (corpus, warm, streams)
    }
    val inputsSha = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      corpus.docs.foreach(d => md.update(s"${d.doc_id}:${d.sha256}\n".getBytes(UTF_8)))
      (warm ++ streams.flatten).foreach(o => md.update(s"${o.shape}:${o.text}\n".getBytes(UTF_8)))
      md.digest().map(b => f"$b%02x").mkString
    }
    println(s"perfbench: ${a.workload} seed ${a.seed}: ${plan.base}+${plan.rounds}x${plan.slice} docs, " +
      s"${warm.size + streams.map(_.size).sum} distinct ops, inputs sha256 $inputsSha")

    // ---- measured phase ----
    val m0 = System.nanoTime()
    tr.span("build") {
      val table = spark.read.parquet(ctx.tableDir)
      val docs = table.drop("n_chars").as[SourceFile]
      indexCall("build.word")(IndexBuild.build(spark, docs, ctx.wordDir, cfg))
      indexCall("build.tri")(QueryParser.buildIndexes(spark, table, "doc_id", Seq("content"), Nil, ctx.colsRoot, triCfg))
      indexCall("build.num")(QueryParser.buildIndexes(spark, table, "doc_id", Nil, Seq("n_chars"), ctx.colsRoot, triCfg))
    }
    tr.span("reopen")(ctx.reopen())
    tr.span("check") {
      checkDocStats(corpus, plan.base)
      // a gate's figure only grows with refresh rounds: refresh streams are
      // asserted after the last round
      checkGates(if (plan.rounds == 0) warm ++ streams.flatten else warm)
    }
    tr.span("warmup")(warm.foreach(execute))
    if (plan.rounds == 0) loop("queries", streams.head)
    var folds = 0
    for (r <- 1 to plan.rounds) {
      tr.span("refresh") {
        val slice = corpus.sliceDocs(r).toSeq
        docsFrame(slice).write.mode("overwrite").parquet(s"${ctx.sliceDir}/r=$r")
        appendTable(slice, "append")
        val sliceDs = spark.read.parquet(s"${ctx.sliceDir}/r=$r").as[SourceFile]
        indexCall("refresh.word")(IndexBuild.ingestBatch(spark, sliceDs, ctx.wordDir, cfg.numBatches + r - 1, cfg))
        indexCall("refresh.cols")(QueryParser.buildIndexes(spark, spark.read.parquet(ctx.tableDir), "doc_id",
          Seq("content"), Seq("n_chars"), ctx.colsRoot, triCfg))
      }
      tr.span("reopen")(ctx.reopen())
      loop("probes", streams(r - 1))
      tr.span("compact") {
        val w = indexCall("compact.word")(
          IndexBuild.compactTiered(spark, ctx.wordDir, cfg.copy(maxGenerations = foldAbove), reclaim = false))
        val c = indexCall("compact.cols") {
          val t = TrigramIndex.compactTiered(spark, ctx.triDir, triCfg.copy(maxGenerations = foldAbove), reclaim = false)
          val n = NumericIndex.compactTiered(spark, ctx.colsRoot, "n_chars", maxGenerations = foldAbove,
            numBuckets = cores, reclaim = false)
          t || n
        }
        if (w || c) { folds += 1; tr.current.attrs("folded") = 1.0 }
      }
      tr.span("reopen")(ctx.reopen())
    }
    if (plan.rounds > 0) {
      indexCall("vacuum") {
        IndexBuild.vacuum(spark, ctx.wordDir)
        TrigramIndex.vacuum(spark, ctx.triDir)
        NumericIndex.vacuum(spark, ctx.colsRoot, "n_chars")
      }
      tr.span("check") {
        checkDocStats(corpus, corpus.docsAfter(plan.rounds))
        checkGates(streams.flatten)
      }
      if (folds == 0) throw new IllegalStateException("no compaction folded a generation")
    }
    val m1 = System.nanoTime()

    // ---- end-to-end metrics ----
    if (timedMs.isEmpty) throw new IllegalStateException("no query answered correctly to time")
    val readS = (tr.walls("queries") ++ tr.walls("probes")).sum
    val writeS = Seq("build", "refresh.word", "refresh.cols", "compact", "vacuum").flatMap(tr.walls).sum
    val indexBytes = Files.walk(Paths.get(a.work, "index")).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
    val lat = timedMs.map(_._2).toSeq
    val metrics = Map[String, (Double, String)](
      "setup_s" -> (sessionS + tr.walls("setup").head + tr.walls("warmup").head, "s"),
      "build_docs_per_s" -> (plan.base / tr.walls("build").head, "docs/s"),
      "index_write_s" -> (writeS, "s"),
      "queries_per_s" -> (lat.size / readS, "1/s"),
      "query_p50_ms" -> (Stats.median(lat), "ms"),
      "space_amp" -> (indexBytes.toDouble / corpus.contentBytes(corpus.docsAfter(plan.rounds)), "ratio"))
    val info = mutable.LinkedHashMap[String, String](
      "inputs_sha256" -> inputsSha,
      "cores" -> cores.toString,
      "timed_queries" -> lat.size.toString,
      "per_shape" -> plan.shapes.map { sh =>
        val xs = timedMs.filter(_._1 == sh).map(_._2).toSeq
        s"$sh ${xs.size}" + (if (xs.isEmpty) "" else f" p50 ${Stats.median(xs)}%.0f ms")
      }.mkString(", "),
      "query_p90_ms" -> f"${Stats.percentile(lat, 0.9)}%.1f of ${lat.size} samples",
      "folds" -> folds.toString,
      "measured_s" -> f"${(m1 - m0) / 1e9}%.2f")
    if (!a.trace) (metrics, info.toMap)
    else {
      // the traced run's own copies of two end-to-end figures; beside an
      // untraced run's they give the tracing overhead
      val traced = Seq("build_docs_per_s", "query_p50_ms").map(k => s"traced.$k" -> metrics(k))
      (layers(corpus, streams.flatten, m0, m1).map { case (k, v) => k -> (v, Run.unit(k)) }.toMap ++ traced,
        info.toMap)
    }
  }

  /** Per-layer metrics of a traced run, named `<span>.<counter>`. */
  private def layers(corpus: Corpus, ops: Seq[Op], m0: Long, m1: Long): Seq[(String, Double)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    // driver-side micro-timings of public functions, after the measured phase
    def rate(items: Int)(f: Int => Long): Double = {
      var n = 0L; var i = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 300000000L) { n += f(i % items); i += 1 }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    val docs = corpus.docs
    val (wordSegs, triSegs) = tr.span("aux") {
      (IndexBuild.readSegments(spark, ctx.wordDir).as[SegmentRow].collect(),
        TrigramIndex.readSegments(spark, ctx.triDir).as[TriSegmentRow].limit(50000).collect())
    }
    out += "tokenize.terms_docs_per_s" -> rate(docs.length) { i => Tokenizer.termFreqs(docs(i).content); 1L }
    out += "tokenize.tri_docs_per_s" -> rate(docs.length) { i => Tokenizer.distinctTriKeys(docs(i).content); 1L }
    out += "codec.postings_decode_per_s" -> rate(wordSegs.length) { i =>
      val s = wordSegs(i)
      s.block_off.indices.foreach(b => VarByte.decodeBlock(s.postings, s.block_off(b), VarByte.blockCount(s.count, b)))
      s.count.toLong
    }
    out += "codec.ids_decode_per_s" -> rate(triSegs.length) { i =>
      val s = triSegs(i)
      s.block_off.indices.foreach(b => VarByte.decodeIdsBlock(s.postings, s.block_off(b), VarByte.blockCount(s.count, b)))
      s.count.toLong
    }
    // trigram candidates the index returns vs the rows that really match
    val n = corpus.docsAfter(plan.rounds)
    val (matches, cands) = tr.span("aux") {
      ops.filter(_.shape == "substring")
        .map(o => (docs.iterator.take(n).count(_.content.contains(o.text)).toLong,
          TrigramIndex.searchCandidates(spark, ctx.triDir, o.text).count()))
        .foldLeft((0L, 0L)) { case ((m, c), (dm, dc)) => (m + dm, c + dc) }
    }

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    // medians over a span's instances; 0 for a layer the workload never calls
    def agg(name: String, spans: Seq[Span], counters: Seq[String]): Unit = {
      val cs = spans.map(tr.counters(_, cores))
      counters.foreach(c => out += s"$name.$c" -> (if (cs.isEmpty) 0.0 else Stats.median(cs.map(_(c)))))
    }
    val base = Seq("wall_s", "jobs", "task_cpu_s", "shuffle_mb", "par_eff", "driver_gap_s")
    val folded = tr.named("compact").filter(_.attrs.contains("folded")).map(_.id).toSet
    Seq("build.word", "build.tri", "build.num", "refresh.word", "refresh.cols")
      .foreach(n => agg(n, tr.named(n), base :+ "skew"))
    Seq("compact.word", "compact.cols").foreach(n => agg(n, tr.named(n).filter(s => folded(s.parent)), base :+ "skew"))
    agg("vacuum", tr.named("vacuum"), Seq("wall_s"))   // listing and deletes: no Spark job
    val timed = (tr.named("queries") ++ tr.named("probes")).map(_.id).toSet
    Seq("bm25", "trigram", "dsl").foreach { f =>
      val spans = tr.named(s"query.$f").filter(s => timed(s.parent))
      agg(s"query.$f", spans, base)
      out += s"query.$f.plan_ms" -> (if (spans.isEmpty) 0.0 else Stats.median(spans.map(_.attrs("plan_ms"))))
    }
    out += "query.trigram.cand_precision" -> (if (cands == 0) 1.0 else matches.toDouble / cands)
    Seq("build", "queries", "probes", "refresh", "compact").foreach { n =>
      val spans = tr.named(n)
      out += s"$n.self_s" -> (if (spans.isEmpty) 0.0 else Stats.median(spans.map(tr.selfS)))
    }
    val top = tr.spans.filter(s => s.parent == -1L && s.start >= m0 && s.end <= m1)
    out += "trace.top_cover" -> top.map(_.wallS).sum / ((m1 - m0) / 1e9)
    val l = tr.listener.get
    out += "trace.unattributed_jobs" -> l.unattributed.get().toDouble
    l.unattributedSites.forEach(site => System.err.println(s"perfbench: job outside any span: $site"))
    out += "jvm.gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    out += "jvm.peak_rss_mb" -> Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case s if s.startsWith("VmHWM:") => s.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    out.toSeq
  }

  def spansJsonl: String = tr.jsonl()
}

object Run {
  /** Op latency the query streams are sized by (a point op on a 4-core host). */
  val NominalOpMs = 600.0

  /** Unit of a per-layer metric, from its counter name. */
  def unit(name: String): String = name.split('.').last match {
    case c if c.endsWith("_per_s") => "1/s"
    case c if c.endsWith("_s") => "s"
    case c if c.endsWith("_ms") => "ms"
    case c if c.endsWith("_mb") => "MB"
    case "jobs" | "unattributed_jobs" => "count"
    case _ => "ratio"
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    // the session settings of graft.Bench, with scratch space in the run's directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (8 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (128 << 10).toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try {
      val run = new Run(a, spark, (System.nanoTime() - t0) / 1e9)
      val (metrics, info) = run()
      if (a.trace) Files.writeString(Paths.get(a.out + ".spans.jsonl"), run.spansJsonl)
      val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }.mkString(",")
      val inf = info.toSeq.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
      Files.writeString(Paths.get(a.out),
        s"""{"correct":${run.failedOps == 0},"attempted":${run.attemptedOps},"failed":${run.failedOps},""" +
          s""""metrics":{$ms},"info":{$inf}}""" + "\n")
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }
}
