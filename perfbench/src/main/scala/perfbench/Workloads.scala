package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans._

/** One timed unit of user work: a v3 compile + pack, or one compaction
  * cycle of ingest rounds. `calls` are its user-visible calls with their
  * walls. A call that throws aborts the run (non-zero exit, no result).
  */
final case class PassResult(wall: Double, calls: Seq[(String, Double)], items: Long)

/** An output fingerprint: row count plus an order-independent content
  * hash (doubles rounded to 6 places), and named invariants that must hold
  * whatever the seed.
  */
final case class Check(name: String, rows: Long, hash: String,
                       invariants: Seq[(String, Boolean)] = Nil)

trait Workload {
  /** Untimed warm-up pass `i` of set-up (a fresh session each time).
    * Returns the checks of the outputs it produced and the seconds those
    * checks took, which the set-up time excludes.
    */
  def warm(spark: SparkSession, tr: Tracer, i: Int): (Seq[Check], Double)
  /** Timed pass `i`. */
  def pass(spark: SparkSession, tr: Tracer, i: Int): PassResult
  /** Untimed checks of the outputs in the session the timed passes ran in. */
  def check(spark: SparkSession, tr: Tracer): Seq[Check]
  /** True: the timed loop runs until `--seconds` have passed, and at least
    * the minimum number of passes. False: exactly that minimum, because the
    * outputs depend on how many passes ran.
    */
  def timeBound: Boolean
  /** Text (and, where the workload has them, vectors) for the kernel harness. */
  def kernelCorpus(spark: SparkSession): (DataFrame, Option[DataFrame])
  def describe: Map[String, Any]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drop every cache the engine's registries and the session hold. */
  def clearCaches(spark: SparkSession): Unit = {
    graft.operators.Dedup.unpersistCaches()
    PipelineCompiler.unpersistCompiledCaches()
    spark.sharedState.cacheManager.clearCache()
  }

  private def hashable(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }
  }
  private type Column = org.apache.spark.sql.Column

  def digest(name: String, df: DataFrame, invariants: Seq[(String, Boolean)] = Nil): Check = {
    val r = df.select(xxhash64(df.schema.fields.toSeq.map(hashable): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Check(name, r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"), invariants)
  }

  def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing resource $path")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The pinned BPE merges the engine's v3 gate packs with (a model asset;
    * the same 24 merges as the engine's gate model).
    */
  val bpeMerges: Seq[(String, String)] = Seq(
    ("e", "r</w>"), ("o", "w</w>"), ("t", "o"), ("a", "t"),
    ("l", "u"), ("a", "s"), ("i", "n"), ("e", "r"),
    ("o", "r"), ("a", "r"), ("p", "ar"), ("i", "n</w>"),
    ("j", "o"), ("jo", "in</w>"), ("as", "h</w>"), ("h", "ash</w>"),
    ("r", "ow</w>"), ("at", "c"), ("atc", "h</w>"), ("b", "atch</w>"),
    ("a", "n</w>"), ("c", "an</w>"), ("s", "can</w>"), ("c", "o"))
}

/** The checked-in `specs/llm_pipeline_v3.json`, compiled over a
  * planted-structure corpus, then BPE-packed into a noop sink. One scale
  * override as in `graft.tools.V3Stress`: decontamination `n = 8`. (Its
  * other override, `sem.k = max(8, nVecs / 1500)`, is the spec's own 8 at
  * this corpus size, so it is not applied.)
  */
final class V3Corpus(dir: String) extends Workload {
  import Workload._

  private var nDocs = 0L
  private var nVecs = 0L
  private var spec: PipelineSpec = _

  private def prepare(spark: SparkSession): Unit = if (spec == null) {
    nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val raw = SpecJson.fromJson(resource("/specs/llm_pipeline_v3.json"))
    spec = raw.copy(nodes = raw.nodes.map {
      case ("cleaned", CacheSpec(d: DecontamNodeSpec)) => "cleaned" -> CacheSpec(d.copy(n = 8))
      case other => other
    })
  }

  private def packed(train: DataFrame): DataFrame = {
    val seg = graft.functions.Bpe.vocabSegmentation(
      graft.functions.Bpe.wordCounts(train, "text"), bpeMerges)
    graft.operators.Packing.packSequencesEncoded(train, "doc_id", "text", seg,
      budgetTokens = 700, shards = 16)
  }

  /** One compile + pack. The compiled DAG's caches stay live until
    * `clearCaches`.
    */
  private def run(spark: SparkSession, tr: Tracer, kind: String)
      : (PassResult, Map[String, DataFrame]) = {
    prepare(spark)
    val (nodes, compileS) = tr.span(spark, "compile", kind)(
      PipelineCompiler.compileNodes(spec, spark, Map("dir" -> dir)))
    val (_, packS) = tr.span(spark, "pack", kind)(noop(packed(nodes("train"))))
    (PassResult(compileS + packS, Seq("compile" -> compileS, "pack" -> packS), nDocs), nodes)
  }

  /** The last timed pass's DAG, kept cached for `check`. */
  private var live: Map[String, DataFrame] = _

  /** Releases the previous pass's caches first, outside the timed calls. */
  def pass(spark: SparkSession, tr: Tracer, i: Int): PassResult = {
    clearCaches(spark)
    val (p, nodes) = run(spark, tr, "call")
    live = nodes
    p
  }

  def warm(spark: SparkSession, tr: Tracer, i: Int): (Seq[Check], Double) = {
    val nodes = run(spark, tr, "warm")._2
    val t0 = System.nanoTime()
    val c = checks(spark, nodes)
    clearCaches(spark)
    (c, (System.nanoTime() - t0) / 1e9)
  }

  /** Checks the outputs of the last timed pass. */
  def check(spark: SparkSession, tr: Tracer): Seq[Check] = {
    val c = checks(spark, live)
    clearCaches(spark)
    c
  }

  def timeBound: Boolean = true

  /** V3Stress's planted invariants and the fingerprints of train, its
    * packing and cleaned.
    */
  private def checks(spark: SparkSession, nodes: Map[String, DataFrame]): Seq[Check] = {
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
    val bench = corpus.filter(col("doc_id") % 50 === 0).count()
    val twins = corpus.filter(col("doc_id") < 64 && col("doc_id") % 50 =!= 0).count()
    // deduped and the fingerprint count both read `nonempty`: compute it once
    val nonempty = nodes("nonempty").persist()
    def n(node: String) = nodes(node).count()
    val scored = n("scored"); val qvecs = n("qvecs"); val sem = n("sem")
    val deduped = n("deduped"); val cleaned = n("cleaned"); val sel = n("sel")
    val distinctFps = nonempty
      .select(graft.functions.TextOps.fingerprint(col("text"))).distinct().count()
    System.err.println(s"[perfbench] v3 stages scored=$scored qvecs=$qvecs sem=$sem " +
      s"deduped=$deduped cleaned=$cleaned sel=$sel (corpus=$nDocs bench=$bench twins=$twins)")
    val inv = Seq(
      s"scored == corpus - bench + twins (${nDocs - bench + twins})" ->
        (scored == nDocs - bench + twins),
      s"exact dedup == distinct fingerprints ($distinctFps)" -> (deduped == distinctFps),
      "dsir selects exactly k=128" -> (sel == 128),
      "semantic tier dropped planted twins" -> (sem < qvecs),
      "decontamination dropped bench-spliced filler" -> (cleaned < deduped))
    val out = Seq(digest("train", nodes("train"), inv),
      digest("packed", packed(nodes("train"))),
      digest("cleaned", nodes("cleaned")))
    nonempty.unpersist()
    out
  }

  def kernelCorpus(spark: SparkSession): (DataFrame, Option[DataFrame]) =
    (spark.read.parquet(s"$dir/documents.parquet").select("text"),
      Some(spark.read.parquet(s"$dir/embeddings.parquet").select(col("embedding").as("vec"))))

  def describe: Map[String, Any] = Map("docs" -> nDocs, "vecs" -> nVecs,
    "overrides" -> Seq("cleaned.decontaminate.n=3->8"))
}

/** The checked-in `specs/pretrain_ingest.json` run as successive
  * `runAvailable` rounds over one checkpoint; before each round one drop
  * file lands atomically (copied under a hidden name, then renamed into the
  * source directory). Each set-up runs one round, the first on empty
  * stores, the next ones resuming the checkpoint in a fresh session, so the
  * timed rounds run warm code paths over stores that already hold data.
  */
final class IngestDrops(pool: String, work: String) extends Workload {
  import Workload._

  private val drops: Array[java.io.File] =
    Option(new java.io.File(pool).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("drop_") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
  /** The spec compacts every 8th round. A run has a handful of rounds, so
    * the benchmark compacts every 2nd, and a timed pass is one such cycle:
    * a plain round, then a compacting one. The second set-up round
    * compacts too, which warms that path.
    */
  val CompactEvery = 2
  private lazy val spec: IngestSpec =
    SpecJson.ingestFromJson(resource("/specs/pretrain_ingest.json")) match {
      case p: PretrainIngestSpec => p.copy(compactEvery = CompactEvery)
      case other => throw new IllegalStateException(s"unexpected ingest spec $other")
    }
  private var root: String = _
  private var landed = 0
  private var landedDocs = 0L

  private def fresh(): Unit = {
    root = s"$work/ingest"
    Main.deleteTree(new java.io.File(root))
    new java.io.File(s"$root/drop").mkdirs()
    landed = 0; landedDocs = 0L
  }

  private def land(r: Int): Long = {
    require(r < drops.length, s"the pool under $pool holds ${drops.length} drops, round $r needs more")
    val src = drops(r).toPath
    val tmp = java.nio.file.Paths.get(s"$root/drop/.landing-${drops(r).getName}")
    java.nio.file.Files.copy(src, tmp, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(s"$root/drop/${drops(r).getName}"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    landed += 1
    val n = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      new org.apache.hadoop.conf.Configuration(), new org.apache.hadoop.fs.Path(src.toString))
      .getBlocks.toArray.map(_.asInstanceOf[org.apache.parquet.hadoop.metadata.BlockMetaData]
        .getRowCount).sum
    landedDocs += n
    n
  }

  /** Lands the next drop and drains it; the round's name carries its
    * batch id (= the drop's index).
    */
  private def runRound(spark: SparkSession, tr: Tracer): (String, Long, Double) = {
    val r = landed
    val docs = land(r)
    (s"round:$r", docs, tr.span(spark, s"round:$r", "round")(
      IngestCompiler.runAvailable(spark, spec, Map("root" -> root)))._2)
  }

  def warm(spark: SparkSession, tr: Tracer, i: Int): (Seq[Check], Double) = {
    if (i == 0) fresh()
    runRound(spark, tr)
    (Nil, 0.0)
  }

  def pass(spark: SparkSession, tr: Tracer, i: Int): PassResult = {
    val rounds = Seq.fill(CompactEvery)(runRound(spark, tr))
    PassResult(rounds.map(_._3).sum, rounds.map(r => r._1 -> r._3), rounds.map(_._2).sum)
  }

  def timeBound: Boolean = false

  def storeDirs: Seq[String] = Seq("corpus", "sem", "span").map(d => s"$root/$d")

  /** The stores after the last round: their fingerprints, their row
    * counts, and that planted twins were dropped.
    */
  def check(spark: SparkSession, tr: Tracer): Seq[Check] = {
    val corpus = spark.read.parquet(s"$root/corpus")
    val sem = spark.read.parquet(s"$root/sem")
    val span = spark.read.parquet(s"$root/span")
    val twins = spark.read.parquet(s"$pool/twins.parquet")
      .filter(col("doc_id") < landed.toLong * 1000000L)
    val ids = corpus.select("doc_id")
    val inv = Seq(
      "corpus ids are distinct" -> (ids.count() == ids.distinct().count()),
      "planted twins were dropped" -> (twins.join(ids, "doc_id").count() == 0),
      "corpus ids are in the semantic store" ->
        (ids.join(sem.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti").count() == 0))
    Seq(digest(s"corpus@$landed", corpus, inv),
      digest(s"sem@$landed", sem.select("id")),
      digest(s"span@$landed", span))
  }

  def kernelCorpus(spark: SparkSession): (DataFrame, Option[DataFrame]) = {
    val d = spark.read.parquet(drops.take(math.max(1, landed)).map(_.toString): _*)
    (d.select("text"), Some(d.select(col("embedding").as("vec"))))
  }

  def describe: Map[String, Any] = Map("rounds" -> landed, "docs" -> landedDocs,
    "compact_every" -> CompactEvery, "overrides" -> Seq(s"compactEvery=8->$CompactEvery"))
}
