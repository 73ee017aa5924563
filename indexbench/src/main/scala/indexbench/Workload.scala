package indexbench

/** One benchmark workload: the corpus the index is built from and the
  * shape of the deltas that merges add to it. Every workload runs the same
  * phases over its own corpus (see [[Workload$]]), so every metric is
  * measured on every workload and only the corpus shape differs.
  *
  * `buildSeconds` and `roundSeconds` are the warm wall times of one checked
  * build and one checked client round on the reference host (4 vCPUs, see
  * README.md). They turn `--seconds` into a fixed number of operations.
  */
final case class Workload(
    name: String,
    corpus: CorpusSpec,
    delta: CorpusSpec,
    buildSeconds: Double,
    roundSeconds: Double) {

  /** Builds in a window of `seconds`. */
  def builds(seconds: Double): Int =
    math.max(Workload.MinBuilds, math.round(seconds * Workload.BuildShare / buildSeconds).toInt)

  /** Client rounds in a window of `seconds`. */
  def rounds(seconds: Double): Int =
    math.max(Workload.MinRounds, math.round(seconds * (1 - Workload.BuildShare) / roundSeconds).toInt)
}

/** The measured window does a fixed amount of work, sized from `--seconds`
  * before it starts, rather than running to a deadline. The JVM is still
  * compiling Spark's code through the whole window, so operations keep
  * getting faster; a run that stopped at a deadline would fit one round
  * fewer whenever it ran slow, leave out the fastest operations and
  * exaggerate the slowdown. With a fixed count every run, of a parent
  * commit and of a change alike, measures the same operations in the same
  * order, and the window takes about `--seconds` on the reference host.
  */
object Workload {

  /** Share of the window spent on builds at local[nproc]; the closed-loop
    * client runs for the rest.
    */
  val BuildShare = 0.3

  /** Each phase runs at least this many operations, however short the window. */
  val MinBuilds = 3
  val MinRounds = 2

  /** Builds at local[1] after a traced run's window, for the speedup. */
  val OneCpuBuilds = 3

  /** Merges rotate through this many distinct deltas. */
  val Deltas = 2

  val all: Seq[Workload] = Seq(
    // Many small files and long posting lists: the manifest scan, the word
    // exchange and the sorted-set aggregate carry the build; the sink
    // writes comparatively few lines. Queries over head words explode
    // posting lists thousands of ids long.
    Workload("build_many_docs",
      corpus = CorpusSpec(docs = 3000, tokensPerDoc = 160, vocab = 40000, zipfS = 1.0),
      delta = CorpusSpec(docs = 60, tokensPerDoc = 160, vocab = 40000, zipfS = 1.0),
      buildSeconds = 0.85, roundSeconds = 2.5),
    // The same token count in four documents with a vocabulary about ten
    // times larger: almost no scan cost, so the aggregate's group count,
    // the letter range sort and the driver-side write of every line carry
    // the build; letter files are long and posting lists short, so queries
    // and merges are dominated by reading and rewriting the dictionary.
    Workload("build_wide_vocab",
      corpus = CorpusSpec(docs = 4, tokensPerDoc = 120000, vocab = 400000, zipfS = 0.8),
      delta = CorpusSpec(docs = 1, tokensPerDoc = 10000, vocab = 400000, zipfS = 0.8),
      buildSeconds = 1.2, roundSeconds = 2.9))

  def named(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
