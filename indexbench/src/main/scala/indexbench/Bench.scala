package indexbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Engine, GraftExtensions}
import graft.operators.{InvertedIndex, Search, Tokenize}
import graft.sources.{LetterSink, ManifestDataSource}

final case class Config(
    workload: Workload,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    setups: Int = 3,
    tamper: Tamper = Tamper.None)

/** Deliberate damage, used only by the benchmark's own tests to show that a
  * wrong letter file or a wrong query result is counted as a failure.
  */
trait Tamper {
  def index(dir: Path): Unit = ()
  def andResult(ids: Seq[Long]): Seq[Long] = ids
}
object Tamper { object None extends Tamper }

/** One query of the closed-loop client. */
final case class Query(conjunctive: Boolean, terms: Seq[String])

/** A finished run: counts of checked operations and every metric. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Double, String)],
    header: Seq[(String, Any)],
    samples: Seq[(String, Seq[Double])]) {
  def failureRatio: Double = failed.toDouble / math.max(1L, attempted)
}

/** Drives the engine's public API through the phases of a workload and
  * checks every output against [[Model]].
  */
final class Bench(cfg: Config) {
  private val w = cfg.workload
  private val cores = Runtime.getRuntime.availableProcessors()
  private val work = cfg.work
  Files.createDirectories(work)

  private var attempted = 0L
  private var failed = 0L
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private var spark: SparkSession = _
  private var corpus: CorpusFiles = _
  private var deltas: IndexedSeq[CorpusFiles] = _
  private var model: Model = _
  private var deltaModels: IndexedSeq[Model] = _
  private val mergedModels = mutable.HashMap.empty[Int, Model]
  private var queries: IndexedSeq[Query] = _
  private val baseIndex = work.resolve("index0")
  private var current: Path = _
  private var currentModel: Model = _
  private var snapshots = 0

  // ---- checked operations ----

  /** Run one checked operation: `body` returns its seconds and a
    * difference from the model, if any. An exception or a difference
    * counts as a failed operation.
    */
  private def op(label: String)(body: => (Double, Option[String])): Option[Double] = {
    attempted += 1
    try {
      val (secs, diff) = body
      diff.foreach { d => failed += 1; System.err.println(s"[indexbench] MISMATCH $label: $d") }
      if (diff.isEmpty) Some(secs) else None
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[indexbench] FAILED $label: $e")
        None
    }
  }

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def session(n: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("indexbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def buildIndex(out: Path): Unit =
    Engine.buildIndex(spark, corpus.manifest.toString, corpus.baseDir.toString, out.toString)

  private def deltaPostings(k: Int): DataFrame = {
    val d = deltas(k)
    Engine.indexFromManifest(spark, d.manifest.toString, d.baseDir.toString)
      .select(col("word"), transform(col("doc_ids"), _ + lit(model.docs)).as("doc_ids"))
  }

  private def mergedModel(k: Int): Model =
    mergedModels.getOrElseUpdate(k, model.merged(deltaModels(k), model.docs))

  private def queryDf(q: Query): DataFrame =
    if (q.conjunctive) Search.andQueryFromIndex(spark, current.toString, q.terms)
    else Search.orQueryFromIndex(spark, current.toString, q.terms)

  /** Collects a query: AND gives doc ids, OR gives (doc id, matched terms). */
  private def collect(q: Query, df: DataFrame): Either[Seq[Long], Seq[(Long, Long)]] =
    if (q.conjunctive) Left(cfg.tamper.andResult(df.collect().map(_.getLong(0)).toSeq))
    else Right(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)

  private def checkQuery(q: Query, got: Either[Seq[Long], Seq[(Long, Long)]], m: Model): Option[String] = {
    val want = if (q.conjunctive) Left(m.and(q.terms)) else Right(m.or(q.terms))
    if (got == want) None
    else Some(s"${if (q.conjunctive) "AND" else "OR"}(${q.terms.mkString(",")}): " +
      s"got ${got.fold(_.size, _.size)} rows, want ${want.fold(_.size, _.size)}")
  }

  private def newSnapshot(): Path = { snapshots += 1; work.resolve(s"snap$snapshots") }

  /** Makes snapshot `next` (holding the model `m`) the one queries read,
    * deleting the previous snapshot unless it is the base index.
    */
  private def promote(next: Path, m: Model): Unit = {
    if (current != null && current != baseIndex) Bench.deleteTree(current)
    current = next
    currentModel = m
  }

  // ---- untraced operations ----

  private def timedBuild(label: String, out: Path): Option[Double] =
    op(label) {
      val (_, secs) = time(buildIndex(out))
      cfg.tamper.index(out)
      (secs, model.diff(out))
    }

  private def timedQuery(label: String, q: Query): Option[Double] =
    op(label) {
      val (got, secs) = time(collect(q, queryDf(q)))
      (secs, checkQuery(q, got, currentModel))
    }

  /** Merges delta `k` into the base index as a new snapshot. Each merge
    * starts from the base, so every merge does the same amount of work
    * however many ran before it.
    */
  private def timedMerge(label: String, k: Int): Option[Double] = {
    val out = newSnapshot()
    val res = op(label) {
      val (_, secs) = time(LetterSink.mergeExact(spark, baseIndex.toString, deltaPostings(k), out.toString))
      cfg.tamper.index(out)
      (secs, mergedModel(k).diff(out))
    }
    promote(out, mergedModel(k))
    res
  }

  // ---- setup ----

  /** One set-up: a fresh session, the corpus and its deltas written from
    * the seed, the model, the serve index built and checked, and a warm-up.
    * Each step's time is kept as a sample.
    */
  private def setupOnce(): Unit = {
    def step(name: String)(body: => Unit): Unit = sample(s"setup.$name", time(body)._2)
    step("session_s") {
      if (spark != null) spark.stop()
      spark = session(cores)
    }
    step("generate_s") {
      Bench.deleteTree(work.resolve("corpus"))
      val vocab = Corpus.vocabulary(cfg.seed, w.corpus.vocab, w.corpus.zipfS)
      corpus = Corpus.write(work.resolve("corpus").resolve("base"), w.corpus, vocab, cfg.seed, 0)
      deltas = (1 to Workload.Deltas).map(k =>
        Corpus.write(work.resolve("corpus").resolve(s"delta$k"), w.delta, vocab, cfg.seed, k))
    }
    step("model_s") {
      model = Model.build(corpus.manifest, corpus.baseDir)
      deltaModels = deltas.map(d => Model.build(d.manifest, d.baseDir))
      mergedModels.clear()
      queries = Bench.queryStream(cfg.seed, model, 200)
    }
    step("index_s") {
      current = null
      Bench.deleteTree(baseIndex)
      timedBuild("setup.build", baseIndex)
      promote(baseIndex, model)
    }
    // one query of each class (from the stream's last round, which the
    // client never reaches) and one merge
    step("warmup_s") {
      val last = queries.takeRight(Bench.RoundSize)
      Bench.QueryClasses.indices.foreach(c => timedQuery(s"setup.query$c", last(c)))
      timedMerge("setup.merge", 0)
      promote(baseIndex, model)
    }
  }

  // ---- traced operations ----

  private final class Traced(tracer: Tracer) {
    private var n = 0
    private def id(kind: String): String = { n += 1; s"$kind$n" }

    def build(out: Path): Unit = {
      val o = id("b")
      // the scan and tokenize prefixes of Engine.indexFromManifest
      def lines = spark.read.format("graft-manifest").option("baseDir", corpus.baseDir.toString)
        .load(corpus.manifest.toString).select("file_id", "line")
      val scan = tracer.drain(s"$o.manifest", lines)
      val toks = tracer.drain(s"$o.tokenize", Tokenize.tokens(lines, textCol = "line", keep = Seq("file_id")))
      val post = tracer.drain(s"$o.postings",
        Engine.indexFromManifest(spark, corpus.manifest.toString, corpus.baseDir.toString))
      var full: Span = null
      op(s"trace.$o") {
        full = tracer.span(s"$o.build")(buildIndex(out))._2
        cfg.tamper.index(out)
        (full.seconds, model.diff(out))
      }
      if (full != null) {
        sample("trace.build_s", full.seconds)
        sample("manifest.self_s", scan.seconds)
        sample("tokenize.self_s", toks.seconds - scan.seconds)
        sample("postings.self_s", post.seconds - toks.seconds)
        sample("sink.self_s", full.seconds - post.seconds)
        sample("manifest.partitions", scan.stats.tasks)
        sample("manifest.rows", scan.stats.recordsRead)
        val agg = post.stats - toks.stats
        sample("postings.shuffle_bytes", agg.shuffleWrite)
        sample("postings.spill_bytes", agg.spill)
        sample("postings.gc_s", agg.gcMs / 1000.0)
        sample("sink.sort_shuffle_bytes", (full.stats - post.stats).shuffleWrite)
        val written = ('a' to 'z').map(ch => Files.readAllBytes(out.resolve(s"$ch.txt")))
        sample("sink.lines", written.map(_.count(_ == '\n')).sum)
        sample("sink.bytes_written", written.map(_.length).sum)
        sparkStats(full)
      }
    }

    def query(q: Query): Unit = {
      val o = id("q")
      val letters = Model.cleanTerms(q.terms).map(_.substring(0, 1)).distinct
      val scanDf = spark.read.format("graft-letters").load(current.toString)
        .where(col("letter").isin(letters: _*)).select(col("word"), col("doc_ids"))
      // the scan span re-runs the query's pruned letter read alone; its
      // planning stays outside the span, so plan, scan and search add up
      scanDf.queryExecution.executedPlan
      val (_, scan) = tracer.span(s"$o.letters")(scanDf.queryExecution.toRdd.foreach(_ => ()))
      var hits = 0L
      var planSecs = 0.0
      var full: Span = null
      op(s"trace.$o") {
        val (got, s) = tracer.span(s"$o.search") {
          val df = queryDf(q)
          planSecs = time(df.queryExecution.executedPlan)._2
          collect(q, df)
        }
        full = s
        hits = got.fold(_.size, _.size)
        (s.seconds, checkQuery(q, got, currentModel))
      }
      if (full != null) {
        val scanMs = scan.seconds * 1000
        sample("trace.query_ms", full.seconds * 1000)
        sample("plan.ms", planSecs * 1000)
        sample("letters.scan_ms", scanMs)
        sample("search.self_ms", full.seconds * 1000 - planSecs * 1000 - scanMs)
        sample("letters.files_opened", scan.stats.tasks)
        sample("letters.rows_read", scan.stats.recordsRead)
        sample("search.hits", hits)
        sparkStats(full)
      }
    }

    def merge(k: Int): Unit = {
      val o = id("m")
      val out = newSnapshot()
      def existing = spark.read.format("graft-letters").load(baseIndex.toString).select(col("word"), col("doc_ids"))
      val read = tracer.drain(s"$o.read", existing)
      val delta = tracer.drain(s"$o.delta", deltaPostings(k))
      val join = tracer.drain(s"$o.join", InvertedIndex.mergeIndexes(existing, deltaPostings(k)))
      var full: Span = null
      op(s"trace.$o") {
        val (_, s) = tracer.span(s"$o.merge") {
          LetterSink.mergeExact(spark, baseIndex.toString, deltaPostings(k), out.toString)
        }
        cfg.tamper.index(out)
        full = s
        (s.seconds, mergedModel(k).diff(out))
      }
      promote(out, mergedModel(k))
      if (full != null) {
        sample("trace.merge_s", full.seconds)
        sample("merge.read_s", read.seconds)
        sample("merge.delta_s", delta.seconds)
        sample("merge.self_s", join.seconds - read.seconds - delta.seconds)
        sample("merge.sink_s", full.seconds - join.seconds)
        sample("merge.shuffle_bytes", (join.stats - delta.stats).shuffleWrite)
        sparkStats(full)
      }
    }

    private def sparkStats(s: Span): Unit = {
      sample("spark.wall_s", s.seconds)
      sample("spark.jobs_per_op", s.stats.jobs)
      sample("spark.tasks_per_op", s.stats.tasks)
      sample("spark.executor_run_s", s.stats.runMs / 1000.0)
      sample("spark.gc_s", s.stats.gcMs / 1000.0)
      sample("spark.shuffle_write_bytes", s.stats.shuffleWrite)
      sample("spark.spill_bytes", s.stats.spill)
    }
  }

  // ---- phases ----

  def run(): Outcome = {
    val setups = (1 to cfg.setups).map(_ => time(setupOnce())._2)
    val windowStart = System.nanoTime()
    val tracer = if (cfg.trace) Some(new Traced(new Tracer(spark))) else None
    val buildOut = work.resolve("build")

    // phase 1: builds at local[nproc]
    (0 until w.builds(cfg.seconds)).foreach { k =>
      timedBuild(s"build$k", buildOut).foreach(sample("build_s", _))
      tracer.foreach(_.build(buildOut))
    }

    // phase 2: the closed-loop client, in whole rounds of queries and one
    // merge, so every run measures the same query mix
    (0 until w.rounds(cfg.seconds)).foreach { r =>
      (0 until Bench.RoundSize).foreach { c =>
        val q = queries(r * Bench.RoundSize + c)
        timedQuery(s"query$r.$c", q).foreach(s => sample("query_ms", s * 1000))
        tracer.foreach(_.query(q))
      }
      val k = r % Workload.Deltas
      timedMerge(s"merge$r", k).foreach(sample("merge_s", _))
      tracer.foreach(_.merge(k))
    }

    val windowSecs = (System.nanoTime() - windowStart) / 1e9

    // traced runs only: the same build at local[1], in a fresh SparkContext
    if (cfg.trace) {
      spark.stop()
      spark = session(1)
      (0 until Workload.OneCpuBuilds).foreach { k =>
        timedBuild(s"build1cpu$k", buildOut).foreach(sample("build_1cpu_s", _))
      }
    }
    val sparkVersion = spark.version
    spark.stop()

    val header = Seq(
      "git_sha" -> sys.props.getOrElse("indexbench.git_sha", "unknown"),
      "source_sha256" -> sys.props.getOrElse("indexbench.source_sha256", "unknown"),
      "workload" -> w.name, "seed" -> cfg.seed, "seconds" -> cfg.seconds, "trace" -> cfg.trace,
      "nproc" -> cores, "local" -> s"local[$cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> sparkVersion,
      "corpus_sha256" -> corpus.sha256,
      "delta_sha256" -> deltas.map(_.sha256).mkString(","),
      "generated_tokens" -> w.corpus.tokens,
      "window_s" -> windowSecs)
    val m = if (cfg.trace) layerMetrics() else endToEnd(setups)
    Seq(work.resolve("corpus"), buildOut, current, baseIndex).foreach(Bench.deleteTree)
    Outcome(attempted, failed, m, header, (samples.toSeq :+ ("setup_s" -> setups)).map { case (k, v) => (k, v.toSeq) })
  }

  private def all(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Seq.empty)

  private def endToEnd(setups: Seq[Double]): Seq[(String, Double, String)] = {
    val buildS = Bench.median(all("build_s"))
    val q = all("query_ms")
    val served = q.sum / 1000 + all("merge_s").sum
    Seq(
      ("setup_s", Bench.median(setups), "s"),
      ("build_s", buildS, "s"),
      ("build_mtok_per_s", w.corpus.tokens / buildS / 1e6, "Mtok/s"),
      ("query_p50_ms", Bench.median(q), "ms"),
      ("query_p95_ms", Bench.percentile(q, 0.95), "ms"),
      ("query_per_s", q.size / served, "1/s"),
      ("merge_s", Bench.median(all("merge_s")), "s"))
  }

  private def layerMetrics(): Seq[(String, Double, String)] = {
    def mean(n: String) = { val v = all(n); if (v.isEmpty) Double.NaN else v.sum / v.size }
    val inputBytes = Model.manifestPaths(corpus.manifest, corpus.baseDir).map(p => Files.size(p)).sum.toDouble
    val wall = all("spark.wall_s").sum
    Seq(
      ("manifest.self_s", mean("manifest.self_s"), "s"),
      ("manifest.files", ManifestDataSource.parseManifest(corpus.manifest.toString, Some(corpus.baseDir.toString)).size.toDouble, "count"),
      ("manifest.partitions", mean("manifest.partitions"), "count"),
      ("manifest.rows", mean("manifest.rows"), "count"),
      ("manifest.input_bytes", inputBytes, "bytes"),
      ("tokenize.self_s", mean("tokenize.self_s"), "s"),
      ("tokenize.tokens", model.tokens.toDouble, "count"),
      ("postings.self_s", mean("postings.self_s"), "s"),
      ("postings.words", model.words.toDouble, "count"),
      ("postings.pairs", model.pairs.toDouble, "count"),
      ("postings.shuffle_bytes", mean("postings.shuffle_bytes"), "bytes"),
      ("postings.spill_bytes", mean("postings.spill_bytes"), "bytes"),
      ("postings.gc_s", mean("postings.gc_s"), "s"),
      ("sink.self_s", mean("sink.self_s"), "s"),
      ("sink.sort_shuffle_bytes", mean("sink.sort_shuffle_bytes"), "bytes"),
      ("sink.lines", mean("sink.lines"), "count"),
      ("sink.bytes_written", mean("sink.bytes_written"), "bytes"),
      ("letters.scan_ms", mean("letters.scan_ms"), "ms"),
      ("letters.files_opened", mean("letters.files_opened"), "count"),
      ("letters.rows_read", mean("letters.rows_read"), "count"),
      ("letters.rows_per_hit", all("letters.rows_read").sum / math.max(1.0, all("search.hits").sum), "ratio"),
      ("search.self_ms", mean("search.self_ms"), "ms"),
      ("search.hits", mean("search.hits"), "count"),
      ("merge.read_s", mean("merge.read_s"), "s"),
      ("merge.delta_s", mean("merge.delta_s"), "s"),
      ("merge.self_s", mean("merge.self_s"), "s"),
      ("merge.sink_s", mean("merge.sink_s"), "s"),
      ("merge.shuffle_bytes", mean("merge.shuffle_bytes"), "bytes"),
      ("plan.ms", mean("plan.ms"), "ms"),
      ("spark.jobs_per_op", mean("spark.jobs_per_op"), "count"),
      ("spark.tasks_per_op", mean("spark.tasks_per_op"), "count"),
      ("spark.executor_run_s", mean("spark.executor_run_s"), "s"),
      ("spark.core_busy_ratio", all("spark.executor_run_s").sum / (wall * cores), "ratio"),
      ("spark.gc_s", mean("spark.gc_s"), "s"),
      ("spark.shuffle_write_bytes", mean("spark.shuffle_write_bytes"), "bytes"),
      ("spark.spill_bytes", mean("spark.spill_bytes"), "bytes"),
      ("trace.build_s", mean("trace.build_s"), "s"),
      ("trace.query_ms", mean("trace.query_ms"), "ms"),
      ("trace.merge_s", mean("trace.merge_s"), "s"),
      ("trace.overhead_ratio.build_s",
        Bench.median(all("trace.build_s")) / Bench.median(all("build_s")) - 1, "ratio"),
      ("trace.overhead_ratio.query_p50_ms",
        Bench.median(all("trace.query_ms")) / Bench.median(all("query_ms")) - 1, "ratio"),
      ("speedup_vs_1cpu", Bench.median(all("build_1cpu_s")) / Bench.median(all("build_s")), "x"),
      ("op_failure_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
      ("peak_rss_mb", Bench.peakRssMb(), "MiB"))
  }
}

object Bench {

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN when there are no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The process's VmHWM, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def deleteTree(p: Path): Unit =
    if (p != null && Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Query classes: AND or OR over 1-3 terms drawn from head words (h:
    * the longest posting lists), tail words (t: df 1-3) and absent words (a).
    */
  val QueryClasses: Seq[(Boolean, String)] =
    Seq(true -> "h", false -> "ht", true -> "hh", false -> "ta", true -> "hta", false -> "hht")

  /** A client round runs every class this many times, then one merge. */
  val PerClass = 2
  val RoundSize: Int = QueryClasses.size * PerClass

  /** First letters of the terms, by kind, taken in turn. A query's cost
    * follows the size of the letter files it reads, and letter sizes are
    * fixed by the generator's first-letter law, so fixing the letters of
    * every slot fixes the work of a round whatever the seed. Head letters
    * are the five most common first letters, so each has long lists.
    */
  private val HeadLetters = "taois"
  private val TailLetters = "wcbphfm"
  private val AbsentLetters = "rdelng"

  /** A seeded stream of queries in rounds of [[RoundSize]]. Every round
    * has the same classes and term letters; the seed picks only the words.
    * Terms come in raw surface forms the query path must clean.
    */
  def queryStream(seed: Long, m: Model, rounds: Int): IndexedSeq[Query] = {
    val rng = new java.util.SplittableRandom(seed * 31 + 7)
    val dfs = m.postings.valuesIterator.map(_.length).toArray.sorted
    val headDf = dfs(math.max(0, dfs.length - 64))
    val tailDf = math.max(3, dfs(0))
    val words = m.postings.keysIterator.toArray.sorted
    val byLetter = words.groupBy(_.head)
    def df(w: String) = m.postings(w).length
    // a letter without words happens only in tiny corpora: any word serves
    def ofLetter(l: Char) = byLetter.getOrElse(l, words)
    val head = HeadLetters.map { l =>
      val ws = ofLetter(l)
      val long = ws.filter(df(_) >= headDf)
      l -> (if (long.nonEmpty) long else Array(ws.maxBy(df)))
    }.toMap
    val tail = TailLetters.map { l =>
      val ws = ofLetter(l).filter(df(_) <= tailDf)
      l -> (if (ws.nonEmpty) ws else words.filter(df(_) <= tailDf))
    }.toMap
    def absent(l: Char): String = {
      var w = ""
      while (w.isEmpty || m.postings.contains(w))
        w = l.toString + Iterator.fill(8)(('a' + rng.nextInt(26)).toChar).mkString
      w
    }
    def dress(t: String): String = rng.nextInt(4) match {
      case 0 => t.capitalize
      case 1 => t + ","
      case 2 => "\"" + t.toUpperCase + "\""
      case _ => t
    }
    def draw(ws: Array[String]) = ws(rng.nextInt(ws.length))
    (0 until rounds).flatMap { _ =>
      val slots = mutable.HashMap.empty[Char, Int].withDefaultValue(0)
      def next(kind: Char, letters: String): Char = {
        val k = slots(kind); slots(kind) = k + 1
        letters(k % letters.length)
      }
      for (_ <- 0 until PerClass; (conj, kinds) <- QueryClasses) yield Query(conj, kinds.map {
        case 'h' => dress(draw(head(next('h', HeadLetters))))
        case 't' => dress(draw(tail(next('t', TailLetters))))
        case _ => dress(absent(next('a', AbsentLetters)))
      })
    }
  }
}
