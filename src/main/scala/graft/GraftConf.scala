package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** Every `spark.graft.*` session conf, declared once: name, type,
  * default, the rule a set value must satisfy and a one-line doc. Read
  * sites call the key (`GraftConf.CcSaltBuckets(spark)`, or with the
  * `SQLConf` a rule or exec node holds); a value that does not parse, or
  * parses outside its rule, fails there with
  * `IllegalArgumentException("<key> must be <rule>; got '<value>'")`.
  * A new key is added here and nowhere else: GraftConfSpec fails on any
  * `spark.graft.` literal elsewhere under `src/main`.
  *
  * Bench-only keys: the correctness gate NEVER sets them, so every
  * oracle hash is computed under their defaults; only the stress and
  * bench harnesses (StressSmoke, RelStress, tools.Profile, the ANN
  * tools) set them, to pin a production regime (a fixed query batch, a
  * fixed diagnostic sample, a quantizer re-trained for a scaled corpus)
  * that the fixture's own coupling would misrepresent. RegistrySpec
  * runs every registry query in one session and then asserts every key
  * in [[benchOnly]] is unset there, so a query that set one as a side
  * effect cannot leak it into the next query's hash. */
object GraftConf {

  final class Key[T] private[GraftConf] (val name: String, val default: T,
      val rule: String, val doc: String, val benchOnly: Boolean,
      parse: String => Option[T]) {

    /** `raw` parsed under this key's rule, or the named failure. */
    def read(raw: String): T = parse(raw.trim).getOrElse(
      throw new IllegalArgumentException(s"$name must be $rule; got '$raw'"))

    def apply(s: SparkSession): T = s.conf.getOption(name).fold(default)(read)

    def apply(c: SQLConf): T =
      Option(c.getConfString(name, null)).fold(default)(read)
  }

  private val declared = ArrayBuffer.empty[Key[_]]

  private def key[T](name: String, default: T, rule: String, doc: String,
      benchOnly: Boolean = false)(parse: String => Option[T]): Key[T] =
    new Key(name, default, rule, doc, benchOnly, parse).tap(declared += _)

  private def num[T](name: String, default: T, min: T, doc: String,
      benchOnly: Boolean = false)(implicit n: Integral[T]): Key[T] =
    key(name, default, s"an integer >= $min", doc, benchOnly)(
      n.parseString(_).filter(n.gteq(_, min)))

  /** Unset = `None`: the reader derives or skips the value. */
  private def optLong(name: String, doc: String,
      benchOnly: Boolean = false): Key[Option[Long]] =
    key(name, Option.empty[Long], "an integer >= 1", doc, benchOnly)(
      _.toLongOption.filter(_ >= 1).map(Some(_)))

  private def bool(name: String, default: Boolean, doc: String): Key[Boolean] =
    key(name, default, "true or false", doc)(_.toBooleanOption)

  // ---- bench-only (SimilarityQueries, DedupQueries)
  val AnnQueryIdBound = optLong("spark.graft.ann.queryIdBound",
    "ANN query set bounded to vec_id < bound (fixed query batch)",
    benchOnly = true)
  val KnnNodeBound = optLong("spark.graft.knngraph.nodeBound",
    "brute kNN node set bounded to vec_id < bound (fixed sample)",
    benchOnly = true)
  val AnnIvfCells = num("spark.graft.ann.ivf.cells", 16, 1,
    "IVF coarse-quantizer cell count", benchOnly = true)
  val SemdedupCells = num("spark.graft.semdedup.cells", 8, 1,
    "SemDeDup k-means cell count", benchOnly = true)
  val AnnIvfTrain = num("spark.graft.ann.ivf.train", 0, 0,
    "spherical k-means rounds refining the IVF seeds (0 = seeded)",
    benchOnly = true)
  val AnnProbes = num("spark.graft.ann.probes", 2, 1,
    "IVF cells probed per vector in the ANN kNN build", benchOnly = true)
  val AnnPqTrain = num("spark.graft.ann.pq.train", 0, 0,
    "k-means rounds per PQ subspace (0 = label codebook)", benchOnly = true)
  val AnnPqCodes = num("spark.graft.ann.pq.codes", 10, 1,
    "PQ codes per subspace (> 10 needs ann.pq.train > 0)", benchOnly = true)

  // ---- engine
  val BroadcastNodeLimit = num("spark.graft.pagerank.broadcastNodeLimit",
    5000000L, 0L, "broadcast vertex tables up to this many vertices " +
      "(PageRank, KCore, LabelPropagation, Butterfly)")
  val ButterflyProbePairBound = num("spark.graft.butterfly.probePairBound",
    16000000L, 0L, "run the exact pair-count probe under this many pairs " +
      "(0 = never)")
  val ButterflyBroadcastPairLimit = num(
    "spark.graft.butterfly.broadcastPairLimit", 4000000L, 0L,
    "broadcast the butterfly pair table up to this many rows")
  val CcSaltBuckets = num("spark.graft.cc.saltBuckets", 8, 0,
    "salt buckets of ConnectedComponents' per-node min (0 = unsalted)")
  val CheckpointDir = key("spark.graft.checkpointDir",
    Option.empty[String], "a non-empty path",
    "reliable checkpoint dir of every Lineage.truncate (unset = local)")(
    p => Some(Some(p)).filter(_ => p.nonEmpty))
  val DedupBucketChunkBytes = num("spark.graft.dedup.bucketChunkBytes",
    8388608L, 1L, "BucketAdmitJoin's existing-side chunk, encoded bytes")
  val DedupMaterializePerCoreBytes = num(
    "spark.graft.dedup.materializePerCoreBytes", 1400000L, 0L,
    "documents bytes per core from which dedup checkpoints its contraction")
  val TopkRewrite = bool("spark.graft.topk.rewrite", true,
    "rewrite row_number() <= k filters to TopKPerKey")
  val TopkPartialBudgetBytes = optLong("spark.graft.topk.partialBudgetBytes",
    "TopKPerKey's map-side heap budget per task (unset = from executor heap)")
  val StreamSink = key("spark.graft.stream.sink", "memory",
    "one of memory, noop, digest, connector",
    "streaming registry sink: memory collects, the others are engine-only")(
    m => Some(m).filter(Set("memory", "noop", "digest", "connector")))
  val StreamStatePartitions = num("spark.graft.stream.statePartitions", 4, 1,
    "shuffle partitions of the streaming registry queries' state")
  val BpeLocalVocabLimit = num("spark.graft.bpe.localVocabLimit", 1000000, 0,
    "BPE trains in the driver up to this many distinct words (0 = never)")

  /** Every declared key, in declaration order. */
  val all: Seq[Key[_]] = declared.toList

  val benchOnly: Seq[Key[_]] = all.filter(_.benchOnly)

  /** (key, value as set) for every key whose effective value differs
    * from its default; a malformed value fails as at its read site, and
    * a set `spark.graft.*` key that is not declared here (a typo, a
    * deleted knob) fails naming it. */
  def nonDefaults(s: SparkSession): Seq[(String, String)] = {
    val names = all.map(_.name).toSet
    val undeclared = s.conf.getAll.keys
      .filter(k => k.startsWith("spark.graft.") && !names(k)).toSeq.sorted
    if (undeclared.nonEmpty) throw new IllegalArgumentException(
      s"undeclared graft conf: ${undeclared.mkString(", ")}")
    all.flatMap(k => s.conf.getOption(k.name)
      .filter(k.read(_) != k.default).map(v => k.name -> v.trim))
  }
}
