package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{SimHash64, TextOps, VectorMath}
import graft.operators.{Dedup, QualityModel}

/** Layer harness of the traced run: ns/row of each native column kernel,
  * projected over the workload's corpus cached in memory, minus an
  * identity projection of the same input column; the span and exact dedup
  * operators timed alone; and the waste ratios of the semantic and minhash
  * dedup tiers.
  */
object Kernels {
  /** Rows the kernel corpus is replicated up to, so a projection runs long
    * enough to time.
    */
  val KernelRows = 10000L
  val Pairs = 20000L
  private val Reps = 3

  private def time(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    Workload.noop(df)
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cached(df: DataFrame, parts: Int): (DataFrame, Long) = {
    val c = df.repartition(parts).persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  /** Median seconds of `kernel` over `df` minus the identity projection
    * of `input`, per row, in ns.
    */
  private def nsPerRow(df: DataFrame, rows: Long, input: String, kernel: Column): Double = {
    val base = median((0 until Reps).map(_ => time(df.select(col(input)))))
    val k = median((0 until Reps).map(_ => time(df.select(kernel.as("k")))))
    math.max(0.0, k - base) * 1e9 / rows
  }

  def measure(spark: SparkSession, tr: Tracer, w: Workload): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    val (text, vecs) = w.kernelCorpus(spark)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    tr.span(spark, "kernels", "harness") {
      val n0 = text.count()
      val copies = math.max(1L, (KernelRows + n0 - 1) / math.max(1L, n0))
      val rep = text.crossJoin(spark.range(copies).toDF("__copy")).select("text")
        .withColumn("toks", TextOps.tokens(col("text")))
        .withColumn("shingles", TextOps.charShingles(col("text"), 5))
      val (docs, rows) = cached(rep, cores)
      val text1 = col("text"); val toks = col("toks")
      Seq(
        "tokens" -> ("text", TextOps.tokens(text1)),
        "word_ngrams" -> ("toks", TextOps.wordNgrams(toks, 3)),
        "top_ngram_frac" -> ("toks", TextOps.topNgramFrac(toks, 2)),
        "hashed_grams" -> ("text", TextOps.hashedGrams(text1, 4)),
        "char_shingles" -> ("text", TextOps.charShingles(text1, 5)),
        "minhash_sig" -> ("shingles", Dedup.minhashSignature(col("shingles"), 128)),
        "simhash" -> ("text", SimHash64.simhash64(text1)),
        "quality_features" -> ("text", QualityModel.features(text1)),
        "fingerprint" -> ("text", TextOps.fingerprint(text1))
      ).foreach { case (k, (input, kernel)) =>
        out(s"functions.$k.ns_row") = tr.span(spark, s"kernel:$k", "kernel")(
          nsPerRow(docs, rows, input, kernel))._1
      }
      docs.unpersist(blocking = true)

      vecs.foreach { v =>
        val cells = centroids
        val nv = v.count()
        val vcopies = math.max(1L, (KernelRows + nv - 1) / math.max(1L, nv))
        val (vc, vrows) = cached(v.crossJoin(spark.range(vcopies).toDF("__copy")).select("vec"), cores)
        out("functions.nearest_cell.ns_row") = tr.span(spark, "kernel:nearest_cell", "kernel")(
          nsPerRow(vc, vrows, "vec", VectorMath.nearestCosineCellCol(col("vec"), cells)))._1
        vc.unpersist(blocking = true)
        // pair kernel on hoisted norms: a block of the corpus against itself
        val side = math.max(2L, math.sqrt(Pairs.toDouble).toLong)
        val a = v.limit(side.toInt).select(col("vec").as("a"), VectorMath.normSqCol(col("vec")).as("na"))
        val b = v.limit(side.toInt).select(col("vec").as("b"), VectorMath.normSqCol(col("vec")).as("nb"))
        val (pairs, np) = cached(a.crossJoin(b), cores)
        out("functions.cosine_normed.ns_pair") = tr.span(spark, "kernel:cosine_normed", "kernel")(
          nsPerRow(pairs, np, "a",
            VectorMath.cosineSimNormed(col("a"), col("b"), col("na"), col("nb"))))._1
        pairs.unpersist(blocking = true)

        // semantic tier: pairs the within-cell kernel evaluates, and the
        // share of them at or above the 0.9 threshold
        val ids = v.withColumn("id", monotonically_increasing_id())
        val assigned = Dedup.assignSemanticClusters(ids, "id", "vec", cells)
        val evaluated = assigned.groupBy("cluster").count()
          .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
        val found = Dedup.semanticDedupPairs(ids, "id", "vec", cells, 0.9).count()
        Dedup.unpersistCaches()
        out("operators.semantic.pairs_evaluated") = evaluated
        out("operators.semantic.pair_yield") = if (evaluated > 0) found / evaluated else 0.0
      }

      // the two dedup operators the v3 pipeline runs lazily inside the
      // `cleaned` cache fill, timed alone over the corpus
      val ids = text.withColumn("id", monotonically_increasing_id())
      out("operators.span_dedup.s") = tr.span(spark, "operator:span_dedup", "operator")(
        time(Dedup.dropRepeatedSpans(ids, "id", "text", 16)))._1
      out("operators.exact_dedup.s") = tr.span(spark, "operator:exact_dedup", "operator")(
        time(Dedup.exact(ids, "text", "id")))._1
      Dedup.unpersistCaches()

      // minhash tier: verified pairs per banded candidate
      val cand = Dedup.minhashCandidates(ids, "id", "text").count()
      val verified = Dedup.minhashDedupPairs(ids, "id", "text", threshold = 0.8).count()
      Dedup.unpersistCaches()
      out("operators.minhash.candidate_yield") = if (cand > 0) verified.toDouble / cand else 0.0
    }
    out.toMap
  }

  /** The pinned coarse cells of `specs/pretrain_ingest.json`. */
  lazy val centroids: Seq[(Int, Seq[Float])] =
    graft.plans.SpecJson.ingestFromJson(Workload.resource("/specs/pretrain_ingest.json")) match {
      case p: graft.plans.PretrainIngestSpec => p.centroids
      case other => throw new IllegalStateException(s"unexpected ingest spec $other")
    }
}
